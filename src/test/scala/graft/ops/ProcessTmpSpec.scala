package graft.ops

import org.scalatest.funsuite.AnyFunSuite

class ProcessTmpSpec extends AnyFunSuite {

  /** Registered JVM shutdown hooks (`Runtime.addShutdownHook` keeps them
    * in `ApplicationShutdownHooks.hooks`; java.lang is opened to the tests).
    */
  private def hookCount(): Int = {
    val cls = Class.forName("java.lang.ApplicationShutdownHooks")
    val hooks = cls.getDeclaredField("hooks")
    hooks.setAccessible(true)
    cls.synchronized(hooks.get(null).asInstanceOf[java.util.Map[_, _]].size)
  }

  test("two calls with the same prefix return one path and register one shutdown hook") {
    val before = hookCount()
    val first = ProcessTmp.dir("graft_tmp_spec")
    val second = ProcessTmp.dir("graft_tmp_spec")
    assert(first == second)
    assert(hookCount() == before + 1)
  }
}
