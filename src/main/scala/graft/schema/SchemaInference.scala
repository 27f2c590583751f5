package graft.schema

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.functions.ParseExtendedJson
import graft.types.{AType, TypeLattice}

/** Distributed schema inference over a collection of JSON documents.
  *
  * Replaces the reference's asyncio sample-and-merge pipeline
  * (mongo2pq/schema.py:219-246: `$sample` cursor -> per-batch
  * `infer_schema_from_batch` -> `Schema.merge`) with a single
  * `treeAggregate`: the per-row fold is the reference's per-batch
  * inference (schema.py:205-216), the combiner is `Schema.merge`
  * (schema.py:34-53). Only the final schema returns to the driver, so
  * this scales to any collection size — sampling bounds the work, and
  * `treeAggregate`'s multi-level combine keeps driver merge cost
  * O(log partitions) on wide clusters.
  */
object SchemaInference {

  /** Trees on the EL reader's JSON grammar (thread-safe once built). */
  private lazy val mapper = new ObjectMapper(ParseExtendedJson.factory)

  /** One line's documents folded into a running field->type map. The
    * line reads as the EL reader reads it ([[ParseExtendedJson.documents]]):
    * a top-level array gives each of its documents, and a line that is
    * not a document (blank, not JSON, or some other value) gives none. */
  private def inferInto(
      acc: Vector[(String, AType)],
      json: String,
      nowEpochSec: Double): Vector[(String, AType)] = {
    val p = ParseExtendedJson.factory.createParser(json)
    ParseExtendedJson.documents(p)(mapper.readTree[JsonNode](p)).getOrElse(Nil).foldLeft(acc) { (fields0, node) =>
      var fields = fields0
      val it = node.properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        val t = TypeLattice.inferJson(e.getValue, nowEpochSec)
        val i = fields.indexWhere(_._1 == e.getKey)
        if (i < 0) fields = fields :+ (e.getKey -> t)
        else {
          val known = fields(i)._2
          if (known != t) fields = fields.updated(i, e.getKey -> AType.unify(known, t))
        }
      }
      fields
    }
  }

  /** Infer a schema from up to ~`samples` documents of `docs`.
    *
    * Sampling strategy: take the head of *every* partition
    * (`samples / numPartitions` docs each) in a single pass. This is
    * the scale-correct replacement for the reference's `$sample`
    * (schema.py:231): a fraction-based `sample()` needs a prior
    * `count()` — a full extra pass over the collection, unacceptable at
    * 100 TB — while partition heads spread the sample across the whole
    * keyspace/file-range (unlike a global prefix, which would bias
    * inference on shape-drifting collections) and stop reading each
    * split after its quota. With `samples <= 0` every document is
    * scanned (exact schema).
    */
  def infer(
      docs: Dataset[String],
      name: String,
      samples: Int = 20000,
      nowEpochSec: Double = System.currentTimeMillis() / 1000.0): InferredSchema = {
    val rdd = docs.rdd
    val sampled =
      if (samples <= 0) rdd
      else {
        val parts = math.max(1, rdd.getNumPartitions)
        val perPartition = math.max(1, samples / parts)
        rdd.mapPartitions(_.take(perPartition))
      }
    val fields = sampled.treeAggregate(Vector.empty[(String, AType)])(
      seqOp = (acc, json) => inferInto(acc, json, nowEpochSec),
      combOp = (a, b) => combine(a, b)
    )
    InferredSchema(name, fields)
  }

  /** One line's documents -> ordered field/type vector (the seqOp unit). */
  private[graft] def inferOne(json: String, nowEpochSec: Double): Vector[(String, AType)] =
    inferInto(Vector.empty, json, nowEpochSec)

  /** The merge monoid (= Schema.merge, schema.py:34-53). */
  private[graft] def combine(
      a: Vector[(String, AType)],
      b: Vector[(String, AType)]): Vector[(String, AType)] = {
    val bMap = b.toMap
    val merged = a.map { case (n, t) =>
      n -> bMap.get(n).map(o => if (o == t) t else AType.unify(t, o)).getOrElse(t)
    }
    val aNames = a.map(_._1).toSet
    merged ++ b.filterNot { case (n, _) => aNames(n) }
  }

  /** Convenience: infer over a JSONL file on disk. */
  def inferFile(
      spark: SparkSession,
      path: String,
      name: String,
      samples: Int = 20000,
      nowEpochSec: Double = System.currentTimeMillis() / 1000.0): InferredSchema =
    infer(spark.read.textFile(path), name, samples, nowEpochSec)
}
