package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A caller's own session — built without [[GraftExtensions]] and with
  * no `GraftFunctions.register` call — must still run the engine: the
  * public entry points install its functions on it. Registry queries
  * cover eight functions; py_cast (Normalizer's text cast) and
  * parse_ejson (the EL reader) go through `Normalizer.apply` and the EL
  * read (`ExtendedJsonSource.read`). The plans together must call all
  * ten. */
class FunctionInstallSpec extends AnyFunSuite {

  test("registry queries run on a session built without the extension") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val bare = SparkSession.builder()
      .master("local[2]")
      .appName("bare-session")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val names = graft.functions.GraftFunctions.table.map(_._1.funcName)
      assert(names.size == 10)
      assert(names.forall(n => !bare.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n))),
        "a bare session must start without the engine's functions")
      val queries = Seq("q106_frame_energy", "q43_rolling_fingerprint", "q30_text_quality",
        "q63_simhash64", "q105_minhash_union", "q82_keyword_scores", "q128_containment")
      val built = queries.map(q => q -> SparkEntry.queries(q)(bare, "/root/testdata/sf0.001"))
      import bare.implicits._
      val text = Seq(" 4_2 ").toDF("n")
      val normalized = graft.normalize.Normalizer(
        graft.schema.InferredSchema("t", Vector("n" -> graft.types.AType.AInt64)), text)
      assert(normalized.as[Long].collect().toSeq == Seq(42L))
      val dump = java.nio.file.Files.createTempFile("bare", ".jsonl")
      java.nio.file.Files.writeString(dump, "{\"n\": {\"$numberLong\": \"42\"}}\n{\"n\": \" 4_2 \"}\n")
      val read = graft.sources.ExtendedJsonSource.read(bare, dump.toString,
        graft.schema.InferredSchema("t", Vector("n" -> graft.types.AType.AInt64)), graft.normalize.Normalizer.Strict)
      assert(read.as[Long].collect().toSeq == Seq(42L, 42L))
      val plans = (built.map { case (q, df) =>
        assert(df.count() > 0, s"$q returned no rows")
        df.queryExecution.analyzed.toString
      } ++ Seq(normalized, read).map(_.queryExecution.analyzed.toString)).mkString("\n")
      val unused = names.filterNot(n => plans.contains(s"$n("))
      assert(unused.isEmpty, s"nothing above calls $unused")
    } finally {
      bare.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
