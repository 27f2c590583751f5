package layerbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamOps

/** The three streaming serves (bm25, ivf-mmr, nsw) against frozen
  * artifacts built once from a table directory. Each lane is one
  * running streaming query fed by a MemoryStream; a trigger adds the
  * lane's fixed probe batch and waits for it to be served. Output goes
  * to [[FingerprintSink]], so every trigger's result is compared with
  * the first one's. Probes are drawn from the seed. */
final class Lanes(spark: SparkSession, seed: Long, work: Path) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private final class Lane(val query: StreamingQuery, val key: String, val add: () => Unit) {
    var reference: Option[Fingerprint] = None
  }
  private var lanes = Map.empty[String, Lane]

  def start(tables: String): Unit = {
    val docs = graft.operators.Tables.documents(spark, tables)
    val (postings, nDocs, tot) = StreamOps.buildBm25Postings(docs)
    val frozenPostings = postings.localCheckpoint(true)
    val (e, c1, edges, anchors) = Reflect.nswArtifacts(spark, tables)
    val corpusVec = e.select($"vec_id", $"v").localCheckpoint(true)
    val corpusCell = Reflect.withFrozenCell(corpusVec, c1).localCheckpoint(true)
    val probes = e.select($"vec_id", $"v")
      .orderBy(xxhash64(lit(seed), $"vec_id"), $"vec_id").limit(Lanes.Probes)
      .as[(Long, Seq[Double])].collect().toSeq
    val terms = Lanes.Terms
    val bmProbes = (0 until Lanes.Probes).map { i =>
      val r = new scala.util.Random(seed * 31 + i)
      StreamOps.BmQuery(i.toLong, Seq.fill(1 + r.nextInt(3))(terms(r.nextInt(terms.size))).distinct)
    }
    def sink(df: DataFrame, name: String): StreamingQuery = df.writeStream
      .format(classOf[FingerprintSink].getName).option("key", s"lane-$name")
      .option("checkpointLocation", work.resolve(s"lane-$name-${System.nanoTime()}").toString)
      .queryName(s"lane_$name").outputMode("append").start()
    val bmIn = MemoryStream[StreamOps.BmQuery]
    val mmrIn = MemoryStream[(Long, Seq[Double])]
    val nswIn = MemoryStream[(Long, Seq[Double])]
    lanes = Map(
      "bm25" -> new Lane(sink(StreamOps.bm25ServeStream(bmIn.toDS(), frozenPostings, nDocs, tot)
        .toDF(), "bm25"), "lane-bm25", () => bmIn.addData(bmProbes)),
      "ivf_mmr" -> new Lane(sink(StreamOps.ivfMmrServeStream(mmrIn.toDF().toDF("qid", "v"), c1,
        corpusCell).toDF(), "ivf_mmr"), "lane-ivf_mmr", () => mmrIn.addData(probes)),
      "nsw" -> new Lane(sink(StreamOps.nswServeStream(nswIn.toDF().toDF("qid", "v"), corpusVec,
        c1, edges, anchors).toDF(), "nsw"), "lane-nsw", () => nswIn.addData(probes)))
    // warm-up trigger: its output is every later trigger's reference
    Lanes.Names.foreach(trigger)
  }

  /** Serve one probe batch; returns whether the output equals the
    * lane's first trigger's. */
  def trigger(name: String): Boolean = {
    val l = lanes(name)
    l.add()
    l.query.processAllAvailable()
    val fp = FingerprintSink.take(s"${l.key}#${l.query.lastProgress.batchId}")
    if (l.reference.isEmpty) l.reference = fp
    fp.isDefined && fp == l.reference
  }

  def stop(): Unit = {
    lanes.values.foreach(_.query.stop())
    lanes = Map.empty
  }
}

object Lanes {
  val Names: Seq[String] = Seq("bm25", "ivf_mmr", "nsw")
  val Probes = 50
  val Terms: Seq[String] = Seq("window", "spark", "merge", "data", "join", "stream", "vector")
}

/** Engine internals the serve lanes and memo counters need, reached by
  * reflection so that the benchmark still compiles when they move. */
object Reflect {
  private def module(name: String): AnyRef =
    Class.forName(name + "$").getField("MODULE$").get(null)

  private def call(obj: String, method: String, types: Seq[Class[_]], args: AnyRef*): AnyRef = {
    val m = module(obj)
    try m.getClass.getMethod(method, types: _*).invoke(m, args: _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  def nswArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    call("graft.operators.Similarity", "nswArtifacts", Seq(classOf[SparkSession], classOf[String]),
      s, dir).asInstanceOf[(DataFrame, DataFrame, DataFrame, DataFrame)]

  def withFrozenCell(stream: DataFrame, centroids: DataFrame): DataFrame =
    call("graft.streaming.StreamOps", "withFrozenCell",
      Seq(classOf[DataFrame], classOf[DataFrame], Integer.TYPE),
      stream, centroids, Int.box(1 << 17)).asInstanceOf[DataFrame]

  def pinnedRddIds(s: SparkSession): Option[Set[Int]] =
    scala.util.Try(call("graft.operators.SessionMemo", "pinnedRddIds", Seq(classOf[SparkSession]), s)
      .asInstanceOf[Set[Int]]).toOption
}
