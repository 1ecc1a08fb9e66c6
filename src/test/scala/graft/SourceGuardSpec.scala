package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Keeps the one-path decisions from regressing: graft's expressions
  * reach queries only as typed Columns (never through a runtime function
  * registration), every session is built by [[Driver]], and the harnesses
  * take their query mixes from the registry's kinds, not from name lists.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq
  }

  private def offenders(files: Seq[(Path, String)], token: String): Seq[String] =
    files.collect { case (p, text) if text.contains(token) => p.toString }

  test("src/main registers no session function at runtime") {
    val main = sources("src/main")
    for (token <- Seq("createOrReplaceTempFunction", "functionRegistry")) {
      val hits = offenders(main, token)
      assert(hits.isEmpty, s"$token in ${hits.mkString(", ")}")
    }
  }

  test("sessions are built only by Driver") {
    // ExtensionsDriveSpec builds its own session on purpose: it drives the
    // spark.sql.extensions path exactly as an external user would.
    val exempt = Set("Driver.scala", "ExtensionsDriveSpec.scala", "SourceGuardSpec.scala")
    val hits = offenders(sources("src/main") ++ sources("src/test"), "SparkSession.builder")
      .filterNot(p => exempt(Paths.get(p).getFileName.toString))
    assert(hits.isEmpty, s"SparkSession.builder outside Driver: ${hits.mkString(", ")}")
  }

  test("Bench and ServeBench name no registered query") {
    val harness = Seq("Bench.scala", "ServeBench.scala").map { f =>
      val p = Paths.get("src/main/scala/graft", f)
      p -> Files.readString(p)
    }
    val named = for {
      name <- SparkEntry.queries.keys.toSeq.sorted
      hit <- offenders(harness, "\"" + name + "\"")
    } yield s"$name in $hit"
    assert(named.isEmpty, s"query-name literals in harness code: ${named.mkString(", ")}")
  }
}
