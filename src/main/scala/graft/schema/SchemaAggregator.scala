package graft.schema

import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import graft.types.AType

/** Schema inference as a first-class Spark aggregate function
  * (SURVEY.md §2B "schema-union agg (A10 as an aggregate)") — the same
  * monoid as [[SchemaInference]]'s treeAggregate, packaged as an
  * `Aggregator[String, _, String]` so it composes with `groupBy`:
  * e.g. one inferred schema *per collection/tenant/day* in a single
  * pass, something the reference's driver loop (mongo2pq/main.py:55-74)
  * can only do collection-at-a-time.
  *
  * Buffer is the ordered field->[[AType]] vector — the typed lattice
  * values themselves, NOT alias strings, so merging partial buffers
  * never renders and re-parses a type. `AType` is Serializable and the
  * buffer rides the kryo encoder; merge is `Schema.merge`
  * (mongo2pq/schema.py:34-53). Output is the `!schema` YAML document,
  * so `collect()`ing the result round-trips through [[SchemaYaml]].
  */
class SchemaAggregator(name: String, nowEpochSec: Double)
    extends Aggregator[String, Vector[(String, AType)], String] {

  override def zero: Vector[(String, AType)] = Vector.empty

  override def reduce(buf: Vector[(String, AType)], json: String): Vector[(String, AType)] =
    SchemaInference.combine(buf, SchemaInference.inferOne(json, nowEpochSec))

  override def merge(a: Vector[(String, AType)], b: Vector[(String, AType)]): Vector[(String, AType)] =
    SchemaInference.combine(a, b)

  override def finish(buf: Vector[(String, AType)]): String =
    SchemaYaml.dump(InferredSchema(name, buf))

  override def bufferEncoder: Encoder[Vector[(String, AType)]] =
    Encoders.kryo[Vector[(String, AType)]]
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

object SchemaAggregator {
  /** Column-level API: `docs.groupBy($"tenant").agg(inferSchemaAgg(...))`. */
  def inferSchemaAgg(jsonCol: Column, name: String, nowEpochSec: Double): Column =
    udaf(new SchemaAggregator(name, nowEpochSec)).apply(jsonCol)

  /** SQL registration: `SELECT infer_schema_agg(doc) FROM ...`. */
  def register(spark: SparkSession, name: String = "collection",
      nowEpochSec: Double = System.currentTimeMillis() / 1000.0): Unit =
    spark.udf.register("infer_schema_agg", udaf(new SchemaAggregator(name, nowEpochSec)))
}
