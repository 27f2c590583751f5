package graft

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.SchemaConfig
import graft.normalize.Normalizer
import graft.schema.{InferredSchema, SchemaInference, SchemaYaml}
import graft.sources.ExtendedJsonSource

/** End-to-end EL façade — the Spark-native replacement for the
  * reference's `main()` orchestration (mongo2pq/main.py:17-97):
  * source -> (load-or-infer schema) -> apply config -> normalize ->
  * hive-partitioned parquet.
  *
  * Execution shape at scale: schema inference is a bounded
  * sample + treeAggregate (only the schema returns to the driver); the
  * load itself is a single shuffle-free map stage over one scan of the
  * input — the one-pass parse of each line into that schema's typed,
  * renamed columns ([[ExtendedJsonSource]], the reader the stream uses
  * too) and the `partitionBy` write pipeline inside one codegen stage
  * per task, so the job
  * scales linearly with input splits on any cluster size. The reference's per-partition writer fan-out
  * (extract_load.py:46-56) is subsumed by Spark's file committer.
  */
object Engine {

  final case class JobConfig(
      /** JSONL (extended JSON) input path — stand-in for a Mongo URI. */
      input: String,
      /** Collection name (used for schema file naming + config lookup). */
      collection: String,
      /** Output directory; one parquet dataset per collection. */
      outDir: String,
      /** Optional pre-existing `!schema` YAML; parse failure falls back
        * to inference (reference: main.py:59-70). */
      schemaFile: Option[String] = None,
      /** Optional config YAML with retype/rename rules. */
      configFile: Option[String] = None,
      /** Hive partition column (post-rename name), if any. */
      partitionKey: Option[String] = None,
      /** Inference sample size (reference default 20000, main.py:117). */
      samples: Int = 20000,
      /** Normalization mode (SURVEY.md §7.4.2/3). */
      mode: Normalizer.Mode = Normalizer.Strict,
      /** Where to persist the inferred schema YAML (reference dumps next
        * to outdir, main.py:74). None = don't persist. */
      schemaOutDir: Option[String] = None)

  final case class JobResult(schema: InferredSchema, rowsWritten: Long, outPath: String)

  def run(spark: SparkSession, job: JobConfig): JobResult =
    runWith(job,
      inferSchema = SchemaInference.inferFile(spark, job.input, job.collection, job.samples),
      load = ExtendedJsonSource.read(spark, job.input, _, job.mode))

  /** Source-agnostic EL: the same pipeline fed from any [[graft.sources.Source]]
    * (dump directory or live MongoDB connector) — a reference user's
    * `mongo2pq -u <uri>` maps onto this with zero pipeline changes. */
  def runCollection(
      spark: SparkSession,
      source: graft.sources.Source,
      db: String,
      job: JobConfig): JobResult =
    runWith(job,
      inferSchema = SchemaInference.infer(
        source.rawDocuments(db, job.collection), job.collection, job.samples),
      load = source.load(db, job.collection, _, job.mode))

  /** `load` gets the post-config schema and gives the normalized rows. */
  private def runWith(
      job: JobConfig,
      inferSchema: => InferredSchema,
      load: InferredSchema => DataFrame): JobResult = {
    // 1. schema: load (with fallback) or infer — reference main.py:55-74
    val loaded: Option[InferredSchema] = job.schemaFile.flatMap { f =>
      try Some(SchemaYaml.loadFile(f))
      catch {
        case e: SchemaYaml.SchemaParseError =>
          System.err.println(s"WARNING: Parsing schema from file failed with message: ${e.getMessage}")
          System.err.println(s"Inferring schema from collection ${job.collection} instead")
          None
      }
    }
    val inferred = loaded.getOrElse {
      val s = inferSchema
      job.schemaOutDir.foreach(d => SchemaYaml.dumpToFile(s, Paths.get(d)))
      s
    }

    // 2. config rewrite — reference main.py:76-80
    val withConfig = job.configFile match {
      case Some(cf) =>
        val parsed = SchemaConfig.parseFile(Paths.get(cf))
        parsed.warnings.foreach(w => System.err.println(s"WARNING: $w"))
        inferred.useConfig(parsed.forCollection(job.collection))
      case None => inferred
    }

    // 3. read + normalize + write — reference extract_load.py:13-56.
    // rowsWritten comes from observe(): the count rides the write job's
    // own pass over the data instead of re-reading the full output —
    // at 100 TB a post-write re-scan would double the job's I/O for a
    // progress number.
    // unique per run: concurrent Engine.run calls on a shared session
    // must not collide on the observation name
    val obs = new org.apache.spark.sql.Observation(
      s"graft.rows_written.${java.util.UUID.randomUUID()}")
    val normalized = load(withConfig).observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
    val outPath = s"${job.outDir.stripSuffix("/")}/${job.collection}"
    val writer = normalized.write.mode("overwrite").format("parquet")
    job.partitionKey match {
      case Some(k) => writer.partitionBy(k).save(outPath)
      case None    => writer.save(outPath)
    }
    val rows = obs.get("rows").asInstanceOf[Long]
    JobResult(withConfig, rows, outPath)
  }

  /** Streaming EL: continuously ingest extended-JSON documents arriving
    * under `inputDir` into the same load -> parquet pipeline —
    * `readStream` -> the reader's projection -> `writeStream` file sink
    * with checkpointing, so ingest is exactly-once and incremental.
    *
    * The schema must be known up front (streams can't be sampled
    * retroactively): pass one inferred/loaded via the batch path from a
    * seed of documents. The stream loads as the batch load does: its
    * files' lines through the same reader
    * ([[ExtendedJsonSource.documents]]).
    */
  def runStreaming(
      spark: SparkSession,
      inputDir: String,
      schema: graft.schema.InferredSchema,
      outPath: String,
      checkpoint: String,
      mode: Normalizer.Mode = Normalizer.Strict,
      partitionKey: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = ExtendedJsonSource.documents(spark.readStream.text(inputDir), schema, mode).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    partitionKey.fold(writer)(k => writer.partitionBy(k)).start()
  }

}
