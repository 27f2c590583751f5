package layerbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{Engine, SparkEntry}
import graft.normalize.Normalizer
import graft.schema.InferredSchema
import graft.sources.DumpSource

/** The layered benchmark's program: runs one workload for a fixed
  * time in one Spark process and writes everything it measured, the
  * spans of a traced run and its output checks to a raw JSON file,
  * which `run.py` turns into the reported metrics.
  *
  * {{{ layerbench.Main --workload el_flat --seed 1 --seconds 10 --trace 0
  *       --cores 4 --work <dir> --out <raw.json> }}}
  *
  * Each workload is a closed loop with one client: the next call is
  * issued when the previous one returned, and passes repeat until
  * `--seconds` have gone by (at least one pass). The inputs are
  * generated first (timed apart: the generator is the benchmark's, not
  * the program's); set-up, the program's own warm-up, is then timed:
  * three warm-up loads for the EL workloads, the first touch of every
  * query and the serve index builds for serve_mix. With `--trace 1`
  * the first half of the time runs untraced and the second half with a
  * [[Tracer]] attached, so the tracing overhead is measured in the
  * same process.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, Paths.get(m("work")), Paths.get(m("out")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"layerbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.driver.maxResultSize", "1g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, a)
    try {
      a.workload match {
        case "el_flat" => run.elFlat()
        case "el_drift" => run.elDrift()
        case "serve_mix" => run.serveMix()
        // start-up only: run.py archives the classes a session start loads
        case "session" =>
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.write()
    } finally spark.stop()
  }
}

/** State of one benchmark run. */
final class Run(spark: SparkSession, a: Main.Args) {
  import Run._

  val ops = new Ops(spark)
  val tracer = new Tracer(spark)
  private var traceUsed = false
  private val setupSecs = mutable.ArrayBuffer.empty[Double]
  private val genSecs = mutable.LinkedHashMap.empty[String, Double]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val info = mutable.LinkedHashMap.empty[String, Any]
  private val deadline = new Deadline(a.seconds)

  private def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[layerbench] check $name failed: $detail")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  private def traced[T](on: Boolean)(body: => T): T = {
    if (on) { tracer.attach(); traceUsed = true }
    try body finally if (on) tracer.detach()
  }

  /** One timed pass: the ids of its ops and its wall time. */
  private def pass(tracedPass: Boolean)(body: => Unit): Unit = {
    val first = ops.all.size
    val t0 = System.nanoTime()
    traced(tracedPass)(body)
    passes += Map("traced" -> tracedPass, "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "ops" -> ops.all.drop(first).map(_.id))
  }

  /** The timed loop: untraced passes until the deadline (and at least
    * `minPasses`), or with tracing on, untraced for the first half then
    * traced. Every phase runs at least one pass. */
  private def loop(minPasses: Int = 1)(body: Boolean => Unit): Unit = {
    deadline.start()
    if (!a.trace) {
      var n = 0
      do { pass(false)(body(false)); n += 1 } while (n < minPasses || !deadline.reached(1.0))
    } else {
      do pass(false)(body(false)) while (!deadline.reached(0.5))
      do pass(true)(body(true)) while (!deadline.reached(1.0))
    }
  }

  private def setup(reps: Int)(body: Int => Unit): Unit =
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      body(r)
      setupSecs += (System.nanoTime() - t0) / 1e9
    }

  /** Input generation, timed apart from set-up. */
  private def generate[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally genSecs(what) = (System.nanoTime() - t0) / 1e9
  }

  private def subSeed(r: Int): Long = a.seed * 1000003L + r

  private def dir(parts: String*): Path = {
    val p = parts.foldLeft(a.work)(_ resolve _)
    Files.createDirectories(p.getParent)
    p
  }

  // ---- el_flat ----------------------------------------------------

  /** sf0.1 lineitem (≈600k documents) through `Engine.runCollection`
    * with a `DumpSource`: Strict mode, 20k samples, partitioned by
    * `l_returnflag`, with a streaming ingest beside it. Set-up loads a
    * small dump (sf0.001, ≈6k documents) three times. The streaming
    * query then starts, untimed, with the schema of those loads,
    * ingests the small dump once and must hold the loads' rows; it runs
    * for the whole workload. A timed pass is one batch load of the main
    * dump plus one stream ingest of the small dump (the streaming path
    * costs ≈0.5 ms per document: the main dump would take minutes); a
    * run times at least two. */
  def elFlat(): Unit = {
    def dump(name: String, seed: Long, sf: Double) = generate(name)(
      Gen.writeDump(new Gen(spark, seed, sf).lineitemDocs, dir("el_flat", name), "tpch", "lineitem"))
    val small = dump("small", subSeed(1), ElFlatSmallSf)
    val main = dump("main", subSeed(0), ElFlatSf)
    info("inputs") = Seq(small, main).map(dumpInfo)
    def load(d: Gen.Dump): Engine.JobResult = {
      val src = new DumpSource(spark, d.path.getParent.getParent.toString)
      Engine.runCollection(spark, src, "tpch", Engine.JobConfig(input = d.path.toString,
        collection = "lineitem", outDir = dir("out", label(d)).toString,
        partitionKey = Some(FlatKey), samples = 20000, mode = Normalizer.Strict))
    }
    var ref: Option[Engine.JobResult] = None
    setup(SetupReps)(_ => ops.run(label(small), "setup")(load(small))._2.foreach(r => ref = Some(r)))
    val stream = new StreamIngest(spark, ops, dir("el_flat", "ingest"))
    var last: Option[Engine.JobResult] = None
    try {
      ref.foreach(r => stream.start(r.schema, Some(FlatKey)))
      stream.offer(small)
      ops.run(label(small), "reference_stream")(stream.ingest())._2.foreach { rows =>
        check("el_flat.stream_rows", rows == small.docs, s"$rows vs ${small.docs}")
        ref.foreach(r => checkSameRows("el_flat.batch_equals_stream",
          spark.read.parquet(r.outPath), stream.output))
      }
      loop(ElFlatMinPasses) { tr =>
        ops.run(label(main), "el_batch")(load(main))._2.foreach { r =>
          check("el_flat.rows_written", r.rowsWritten == main.docs, s"${r.rowsWritten} vs ${main.docs}")
          last = Some(r)
        }
        if (tr) last.foreach(r => normalizeSpans(main, r.schema))
        stream.offer(small)
        ops.run(label(small), "el_stream")(stream.ingest())._2.foreach { rows =>
          check("el_flat.stream_rows", rows == small.docs, s"$rows vs ${small.docs}")
        }
      }
    } finally stream.stop()
    info("micro_batches") = stream.microBatches.toMap
    // output rows equal the generated lineitem table, typed as written
    last.foreach { r =>
      val written = spark.read.parquet(r.outPath)
      val source = new Gen(spark, subSeed(0), ElFlatSf).lineitem
      check("el_flat.output_equals_lineitem",
        fingerprint(written) == fingerprint(castLike(source, written.schema)))
    }
  }

  /** Traced-only decomposition of one EL call: parse alone
    * (`DumpSource.read` to noop) and parse plus normalize
    * (`Normalizer.apply` to noop), twice each; their difference is
    * normalize's self time. */
  private def normalizeSpans(d: Gen.Dump, schema: InferredSchema): Unit = {
    val src = new DumpSource(spark, d.path.getParent.getParent.toString)
    val db = d.path.getParent.getFileName.toString
    val coll = d.path.getFileName.toString.stripSuffix(".jsonl")
    def read(): Unit = ops.run(label(d), "read_noop")(noop(src.read(db, coll)))
    def normalize(): Unit = ops.run(label(d), "normalize_noop")(
      noop(Normalizer(schema, src.read(db, coll), Normalizer.Strict)))
    // ABBA order, so a warming JVM favours neither side
    read(); normalize(); normalize(); read()
  }

  // ---- el_drift ---------------------------------------------------

  /** orders as nested documents with drifting wrappers and types, a
    * retype/rename config, loaded by the batch path (`Engine.run`, 750
    * samples, so the sparse `o_audit` at the end of the file lies past
    * every split's sample head) and ingested by the streaming path
    * (`Engine.runStreaming`) from the same file. Set-up is three batch
    * loads. The streaming query then starts, untimed, with the schema of
    * a reference batch load that samples every document, ingests the
    * dump once and must hold that load's rows; it runs for the whole
    * workload. A timed pass is one batch load plus one stream ingest. */
  def elDrift(): Unit = {
    val config = dir("el_drift", "config.yaml")
    Files.writeString(config, DriftConfig)
    val d = generate("main")(Gen.writeDump(new Gen(spark, subSeed(0), ElDriftSf).orderDocs,
      dir("el_drift", "main"), "shop", "orders"))
    info("inputs") = Seq(dumpInfo(d))
    val batchOut = dir("out", "el_drift_batch")
    val refOut = dir("out", "el_drift_reference")
    def batch(out: Path, samples: Int): Engine.JobResult =
      Engine.run(spark, Engine.JobConfig(input = d.path.toString, collection = "orders",
        outDir = out.toString, configFile = Some(config.toString), samples = samples,
        mode = Normalizer.Strict))
    val stream = new StreamIngest(spark, ops, dir("el_drift", "stream"))
    try {
      setup(SetupReps)(_ => ops.run(label(d), "setup")(batch(batchOut, ElDriftSamples)))
      ops.run(label(d), "reference")(batch(refOut, 0))._2.foreach(res => stream.start(res.schema, None))
      stream.offer(d)
      ops.run(label(d), "reference_stream")(stream.ingest())._2.foreach { rows =>
        check("el_drift.stream_rows", rows == d.docs, s"$rows vs ${d.docs}")
        checkSameRows("el_drift.batch_equals_stream",
          spark.read.parquet(refOut.resolve("orders").toString), stream.output)
      }
      loop() { tr =>
        ops.run(label(d), "el_batch")(batch(batchOut, ElDriftSamples))._2.foreach { res =>
          check("el_drift.batch_rows", res.rowsWritten == d.docs, s"${res.rowsWritten} vs ${d.docs}")
          info("sampled_fields") = res.schema.fields.map(_._1)
          if (tr) normalizeSpans(d, res.schema)
        }
        stream.offer(d)
        ops.run(label(d), "el_stream")(stream.ingest())._2.foreach { rows =>
          check("el_drift.stream_rows", rows == d.docs, s"$rows vs ${d.docs}")
        }
      }
    } finally stream.stop()
    info("micro_batches") = stream.microBatches.toMap
  }

  // ---- serve_mix --------------------------------------------------

  /** Registry queries through `SparkEntry.queries` plus the three
    * streaming serves against frozen artifacts; EL is not involved.
    * Set-up runs once: the first touch of every query (memo and index
    * builds, output kept for the oracle) and the serve index builds.
    * A timed pass runs every query and triggers every serve once. */
  def serveMix(): Unit = {
    val queries = SparkEntry.queries
    val lanes = new Lanes(spark, a.seed, a.work)
    val tables = dir("serve_mix", "tables")
    val reference = mutable.Map.empty[String, Fingerprint]
    val firstTouch = mutable.LinkedHashMap.empty[String, Double]
    val oracle = mutable.ArrayBuffer.empty[Map[String, Any]]
    Files.createDirectories(tables)
    generate("tables")(new Gen(spark, subSeed(0), ServeSf).writeTables(tables))
    def out(q: String) = dir("serve_mix", "out", q)
    // traced only in a traced run, which records q142's first touch
    setup(1) { _ =>
      traced(a.trace) {
        for (q <- MixQueries)
          firstTouch(q) = ops.run(q, "setup")(
            queries(q)(spark, tables.toString).write.mode("overwrite").parquet(out(q).toString))._1
        ops.run("lanes", "setup")(lanes.start(tables.toString))
      }
    }
    for (q <- MixQueries if ops.all.exists(o => o.name == q && o.kind == "setup" && o.ok)) {
      reference(q) = fingerprint(spark.read.parquet(out(q).toString), sorted = false)
      SparkEntry.oracleSql.get(q).foreach(sql =>
        oracle += Map("name" -> q, "sql" -> sql, "out" -> out(q).toString))
    }
    info("tables") = Gen.TableNames.map(t => t -> Files.size(tables.resolve(s"$t.parquet"))).toMap
    info("first_touch_s") = firstTouch.toMap
    info("probes_per_trigger") = Lanes.Probes
    info("oracle") = Map("tables" -> tables.toString, "queries" -> oracle.toSeq)
    info("modules") = MixQueries.map(q => q -> moduleOf(queries(q))).toMap
    info("memo_after_setup") = memoInfo()
    loop() { _ =>
      for (q <- MixQueries) {
        val key = s"$q-${ops.next}"
        ops.run(q, "query")(queries(q)(spark, tables.toString).write
          .format(classOf[FingerprintSink].getName).option("key", key).mode("overwrite").save())
          ._2.foreach { _ =>
            val fp = FingerprintSink.take(key)
            check(s"serve_mix.$q.fingerprint", fp.isDefined && fp == reference.get(q),
              s"${fp.getOrElse("none")} vs ${reference.get(q).getOrElse("none")}")
          }
      }
      for (lane <- Lanes.Names)
        ops.run(lane, "serve")(lanes.trigger(lane))._2.foreach(same =>
          check(s"serve_mix.$lane.fingerprint", same))
    }
    lanes.stop()
    info("memo_at_end") = memoInfo()
  }

  private def memoInfo(): Map[String, Any] = {
    val storage = spark.sparkContext.getRDDStorageInfo
    Map("pinned_rdds" -> Reflect.pinnedRddIds(spark).map(_.size).getOrElse(-1),
      "cached_rdds" -> storage.length,
      "cached_bytes" -> storage.map(s => s.memSize + s.diskSize).sum)
  }

  // ---- shared -----------------------------------------------------

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Batch output equals stream output as a multiset, on the same columns. */
  private def checkSameRows(name: String, b: DataFrame, s: DataFrame): Unit = {
    val sameCols = b.schema.fieldNames.sorted.sameElements(s.schema.fieldNames.sorted)
    check(name, sameCols && fingerprint(b) == fingerprint(s),
      s"batch ${b.schema.simpleString} vs stream ${s.schema.simpleString}")
  }

  /** Fingerprint of a frame's rows, over its columns sorted by name
    * (to compare frames whose column order may differ) or as they are
    * (to compare with a query's own output). */
  private def fingerprint(df: DataFrame, sorted: Boolean = true): Fingerprint = {
    val key = s"check-${System.nanoTime()}"
    val names = if (sorted) df.schema.fieldNames.sorted else df.schema.fieldNames
    val cols = names.map(n => col(s"`$n`"))
    df.select(cols: _*).write.format(classOf[FingerprintSink].getName)
      .option("key", key).mode("overwrite").save()
    FingerprintSink.take(key).get
  }

  /** A dump's name (`small`, `main`): the name of the ops that load it. */
  private def label(d: Gen.Dump): String = d.path.getParent.getParent.getFileName.toString

  private def dumpInfo(d: Gen.Dump): Map[String, Any] =
    Map("label" -> label(d), "path" -> a.work.relativize(d.path).toString,
      "docs" -> d.docs, "bytes" -> d.bytes, "sha256" -> d.sha256)

  def write(): Unit = {
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> a.cores, "setup_s" -> setupSecs.toSeq, "gen_s" -> genSecs.toMap, "passes" -> passes.toSeq,
      "ops" -> ops.all.map(o => Map("id" -> o.id, "name" -> o.name, "kind" -> o.kind,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok, "error" -> o.error,
        "read_bytes" -> o.readBytes, "written_bytes" -> o.writtenBytes)),
      "checks" -> checks.toSeq)
    doc ++= info
    if (traceUsed) doc("trace") = tracer.dump()
    Files.writeString(a.out, new ObjectMapper().writeValueAsString(Json.toJava(doc)))
  }
}

object Run {
  /** Set-up repetitions of the EL workloads; setup_s is their median. */
  val SetupReps = 3
  val ElFlatSf = 0.1
  /** el_flat's partition key, of the batch loads and of the stream. */
  val FlatKey = "l_returnflag"
  val ElFlatSmallSf = 0.001
  /** The first main load after set-up is ≈1.5 s slower than the next
    * (the JIT warms up at the main dump's size): with two passes or
    * more a run's median never rests on the cold one alone, whatever
    * the host's speed. */
  val ElFlatMinPasses = 2
  val ElDriftSf = 0.001
  val ElDriftSamples = 750
  val ServeSf = 0.001

  /** One sentinel per operator module (from Bench's smoke set; for
    * Similarity q219, the NSW graph ANN, in place of q186, the slowest
    * first touch, to fit the benchmark's time budget), plus q142. */
  val MixQueries: Seq[String] = Seq("q01_pricing_summary", "q65_sessionize",
    "q27_minhash_dup_pairs", "q29_lang_id", "q219_nsw_graph_recall",
    "q153_sequence_pack", "q88_curation_funnel", "q102_equidepth_hist", "q145_bm25_topk",
    "q152_media_pipeline", "q36_schema_infer", "q142_triangles")

  val DriftConfig: String =
    """schema:
      |  orders:
      |    - type: retype_equals
      |      fieldname: o_custkey
      |      fieldtype: int64
      |    - type: retype_contains
      |      fieldname: priority_score
      |      fieldtype: double
      |    - type: rename_regex
      |      oldname: ^o_(.*)$
      |      newname: order_\1
      |""".stripMargin

  /** The registry module a query's build function is defined in. */
  def moduleOf(build: AnyRef): String =
    "graft\\.operators\\.([A-Za-z]+)".r.findFirstMatchIn(build.getClass.getName)
      .map(_.group(1)).getOrElse("unknown")

  /** Cast each column of `df` to the type it has in `target`. */
  def castLike(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
}

/** A streaming EL query (`Engine.runStreaming`) that runs for the
  * whole workload, as a deployed ingest would: `offer` moves a copy of
  * a dump into its input directory and `ingest` has one
  * `processAllAvailable` read everything offered. */
final class StreamIngest(spark: SparkSession, ops: Ops, root: Path) {
  private val in = root.resolve("in")
  private val data = root.resolve("out").resolve("data")
  private var query: Option[StreamingQuery] = None
  private var files = 0
  private var lastBatch = -1L
  /** Micro-batches each ingest took, by the id of its op. */
  val microBatches = mutable.LinkedHashMap.empty[String, Int]

  def start(schema: InferredSchema, partitionKey: Option[String]): Unit = {
    Files.createDirectories(in)
    query = Some(Engine.runStreaming(spark, in.toString, schema, data.toString,
      root.resolve("out").resolve("_checkpoint").toString, partitionKey = partitionKey))
  }

  /** Copy the dump in, moved atomically: the file source must never
    * see a partial file. */
  def offer(d: Gen.Dump): Unit = {
    Files.createDirectories(in)
    val staged = in.resolve(s".staged-$files")
    Files.copy(d.path, staged)
    Files.move(staged, in.resolve(s"dump-$files.jsonl"), StandardCopyOption.ATOMIC_MOVE)
    files += 1
  }

  /** Ingest everything offered; returns the rows the stream read. Runs
    * inside an op, under whose id the micro-batches are recorded. */
  def ingest(): Long = {
    val q = query.getOrElse(throw new IllegalStateException("stream not started"))
    q.processAllAvailable()
    val fresh = q.recentProgress.filter(_.batchId > lastBatch)
    lastBatch = fresh.map(_.batchId).foldLeft(lastBatch)(math.max)
    microBatches(ops.next.toString) = fresh.length
    fresh.map(_.numInputRows).sum
  }

  def output: DataFrame = spark.read.parquet(data.toString)

  def stop(): Unit = query.foreach(_.stop())
}

/** Wall-clock budget of the timed loop. */
final class Deadline(seconds: Double) {
  private var t0 = 0L
  def start(): Unit = t0 = System.nanoTime()
  def reached(share: Double): Boolean = (System.nanoTime() - t0) / 1e9 >= seconds * share
}

/** Scala values to Jackson-serializable Java values. */
object Json {
  import scala.jdk.CollectionConverters._
  def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}
