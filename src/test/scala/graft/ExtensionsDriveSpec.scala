package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Drives the library exactly as an external user would: a fresh session
  * configured ONLY with spark.sql.extensions=graft.GraftExtensions must
  * resolve cosine_sim in plain SQL with no imperative registration.
  */
class ExtensionsDriveSpec extends AnyFunSuite {
  test("cosine_sim resolves via spark.sql.extensions alone") {
    // A pre-existing default session would be returned by getOrCreate
    // WITHOUT applying extensions; detach it (keeping the shared context
    // alive for other suites) so a genuinely new session is built.
    val previous = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is STATIC conf: it only takes effect when this
    // JVM creates its first SparkContext (proved by running this suite
    // alone). With a context already up (full `sbt test`), exercise the
    // same class through the public builder.withExtensions hook instead.
    // Static confs match SparkSpec's: if this suite runs first and creates
    // the JVM's only SparkContext, later suites inherit a sane warehouse
    // dir and the nanos-timestamp flag.
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("ext-drive")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_ext").toString)
      .config("spark.ui.enabled", "false")
    val s = (if (previous.isEmpty)
      builder.config("spark.sql.extensions", "graft.GraftExtensions")
    else
      builder.withExtensions(new GraftExtensions)).getOrCreate()
    try {
      val out = s.sql(
        "SELECT cosine_sim(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c").collect()
      assert(math.abs(out.head.getDouble(0) - 1.0) < 1e-12)
      // dot_product: double form and the exact integral (LONG) form.
      val dp = s.sql(
        "SELECT dot_product(array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT)), " +
          "array(CAST(2.0 AS DOUBLE), CAST(0.5 AS DOUBLE))) AS d, " +
          "dot_product(array(CAST(3 AS BIGINT), CAST(-4 AS BIGINT)), " +
          "array(CAST(2 AS BIGINT), CAST(5 AS BIGINT))) AS l").collect().head
      assert(math.abs(dp.getDouble(0) - 2.0) < 1e-12)
      assert(dp.getLong(1) == -14L)
      // minhash_from_set, pinned against the declarative hash family: for a
      // one-element set {x}, signature element i is
      // (x & 0xffffffff)*a_i + b_i mod p.
      val sig = s.sql(
        "SELECT minhash_from_set(array(CAST(7 AS BIGINT))) AS sig")
        .collect().head.getSeq[Long](0)
      val expected = graft.operators.DedupOps.hashParams.map { case (a, b) =>
        (7L * a + b) % graft.operators.DedupOps.Prime
      }
      assert(sig == expected, s"minhash_from_set $sig != $expected")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      previous.foreach(SparkSession.setDefaultSession)
    }
  }
}
