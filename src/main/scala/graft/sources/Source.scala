package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.normalize.Normalizer
import graft.schema.{InferredSchema, SchemaInference}

/** Document-collection source abstraction (A1/A2,
  * mongo2pq/mongo.py:15-18 + main.py:33-37).
  *
  * Two implementations:
  *  - [[DumpSource]]: extended-JSON dump directories
  *    (`<root>/<db>/<collection>.jsonl`) — the offline path every test
  *    and the CLI exercise;
  *  - [[MongoSource]]: the live path over the Spark MongoDB connector
  *    (`spark.read.format("mongodb")`). Code-complete but guarded: the
  *    connector jar doesn't ship with this image (SURVEY.md §7.4.7),
  *    so construction verifies availability and fails with a clear
  *    message instead of an opaque ClassNotFound at action time.
  *
  * Both expose collections two ways: raw JSON documents (for schema
  * inference, which is defined over documents) and the normalized load.
  * A dump's lines are parsed once, straight into the schema's rows
  * ([[ExtendedJsonSource]]); the connector returns typed BSON columns,
  * which `Normalizer` casts.
  */
trait Source {
  /** Databases available at this source (A2: reference defaults to the
    * first when unspecified, main.py:33-35). */
  def listDatabases(): Seq[String]
  /** Collections in a database (A2: default = all, main.py:36-37). */
  def listCollections(db: String): Seq[String]
  /** A collection as raw extended-JSON document strings. */
  def rawDocuments(db: String, collection: String): Dataset[String]
  /** A collection normalized to `schema` (post-config) in `mode`: its
    * documents as the schema's typed, renamed columns, with the absent,
    * empty and (in `Compat` mode) falsy values null. */
  def load(db: String, collection: String, schema: InferredSchema, mode: Normalizer.Mode): DataFrame
}

/** Extended-JSON dump directories: `<root>/<db>/<collection>.jsonl`. */
final class DumpSource(spark: SparkSession, root: String) extends Source {
  private val rootPath = Paths.get(root)

  override def listDatabases(): Seq[String] =
    Files.list(rootPath).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toVector.sorted

  override def listCollections(db: String): Seq[String] =
    Files.list(rootPath.resolve(db)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".jsonl") || n.endsWith(".json"))
      .map(n => n.substring(0, n.lastIndexOf('.')))
      .toVector.sorted

  private def pathOf(db: String, collection: String): String = {
    val jsonl = rootPath.resolve(db).resolve(s"$collection.jsonl")
    if (Files.exists(jsonl)) jsonl.toString
    else rootPath.resolve(db).resolve(s"$collection.json").toString
  }

  override def rawDocuments(db: String, collection: String): Dataset[String] =
    spark.read.textFile(pathOf(db, collection))

  override def load(db: String, collection: String, schema: InferredSchema, mode: Normalizer.Mode): DataFrame =
    ExtendedJsonSource.read(spark, pathOf(db, collection), schema, mode)

  /** The dump loaded against the schema inferred from a sample (the
    * default size), in `Strict` mode, without a config. */
  def read(db: String, collection: String): DataFrame =
    ExtendedJsonSource.read(spark, pathOf(db, collection),
      SchemaInference.infer(rawDocuments(db, collection), collection), Normalizer.Strict)
}

/** Live MongoDB over the Spark connector. Requires
  * `org.mongodb.spark:mongo-spark-connector` on the classpath; the
  * constructor checks and raises a descriptive error when absent.
  *
  * Like the reference's `connect_mongo(check_connection=True)`
  * (mongo2pq/mongo.py:15-18), construction fails fast: a 1 s
  * server-selection `ping` runs at connect time, so a dead server (or a
  * missing connector jar) surfaces immediately instead of at first
  * action. Pass `checkConnection=false` to defer, mirroring the
  * reference's opt-out flag. */
final class MongoSource(spark: SparkSession, uri: String, checkConnection: Boolean = true)
    extends Source {

  private val connectorAvailable: Boolean =
    try { Class.forName("com.mongodb.spark.sql.connector.MongoTableProvider"); true }
    catch { case _: ClassNotFoundException => false }

  private def requireConnector(): Unit =
    if (!connectorAvailable)
      throw new IllegalStateException(
        "MongoDB source requires the mongo-spark-connector jar on the classpath " +
        "(org.mongodb.spark:mongo-spark-connector_2.13). This image ships without " +
        "it; use DumpSource over a mongoexport dump instead.")

  /** The reference's connect probe: `server_info()` under a 1 s
    * server-selection timeout (mongo.py:16-17). Reflective like the
    * rest of the live path (the driver classes ride the connector jar). */
  def probe(): Unit = {
    requireConnector()
    val probeUri =
      if (uri.contains("?")) s"$uri&serverSelectionTimeoutMS=1000"
      else if (uri.stripPrefix("mongodb://").stripPrefix("mongodb+srv://").contains("/"))
        s"$uri?serverSelectionTimeoutMS=1000"
      else s"$uri/?serverSelectionTimeoutMS=1000"
    // reflect against the PUBLIC interfaces (MongoClient/MongoDatabase),
    // not runtime impl classes — com.mongodb.client.internal.* may not
    // be accessible; and wrap EVERY failure (bad URI at create,
    // reflective access, server selection) in the descriptive error.
    var client: AnyRef = null
    try {
      val clientsClass = Class.forName("com.mongodb.client.MongoClients")
      val clientIface = Class.forName("com.mongodb.client.MongoClient")
      val dbIface = Class.forName("com.mongodb.client.MongoDatabase")
      client = clientsClass.getMethod("create", classOf[String]).invoke(null, probeUri)
      val database = clientIface.getMethod("getDatabase", classOf[String]).invoke(client, "admin")
      val pingDoc = Class.forName("org.bson.Document")
        .getMethod("parse", classOf[String]).invoke(null, "{\"ping\": 1}")
      dbIface.getMethod("runCommand", Class.forName("org.bson.conversions.Bson"))
        .invoke(database, pingDoc)
      ()
    } catch {
      case scala.util.control.NonFatal(e) =>
        val cause = e match {
          case ite: java.lang.reflect.InvocationTargetException if ite.getCause != null => ite.getCause
          case other => other
        }
        // a reflective call wraps throwables in InvocationTargetException
        // (itself NonFatal), so fatal VM errors must be re-checked AFTER
        // unwrapping and rethrown raw; a probe-time interrupt restores
        // the flag before the descriptive wrap
        if (!scala.util.control.NonFatal(cause)) throw cause
        if (cause.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
        throw new IllegalStateException(
          s"MongoDB connect probe failed for $uri (1s server-selection): ${cause.getMessage}", cause)
    } finally {
      if (client != null)
        try Class.forName("com.mongodb.client.MongoClient").getMethod("close").invoke(client)
        catch {
          case scala.util.control.NonFatal(e) =>
            // best-effort close, but don't eat an interrupt
            val c = e match {
              case ite: java.lang.reflect.InvocationTargetException if ite.getCause != null => ite.getCause
              case other => other
            }
            if (c.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
        }
    }
  }

  if (checkConnection) probe()

  /** Database listing needs a server round-trip outside Spark's reader;
    * the connector exposes it via the driver — not implementable
    * without the jar, so it shares the guard. */
  override def listDatabases(): Seq[String] = {
    requireConnector()
    // With the connector present the Mongo Java driver is on the
    // classpath too; enumerate via a short-lived client.
    val clientClass = Class.forName("com.mongodb.client.MongoClients")
    val client = clientClass.getMethod("create", classOf[String]).invoke(null, uri)
    try {
      val names = client.getClass.getMethod("listDatabaseNames").invoke(client)
      names.asInstanceOf[java.lang.Iterable[String]].asScala.toVector
    } finally client.getClass.getMethod("close").invoke(client)
  }

  override def listCollections(db: String): Seq[String] = {
    requireConnector()
    val clientClass = Class.forName("com.mongodb.client.MongoClients")
    val client = clientClass.getMethod("create", classOf[String]).invoke(null, uri)
    try {
      val database = client.getClass.getMethod("getDatabase", classOf[String]).invoke(client, db)
      val names = database.getClass.getMethod("listCollectionNames").invoke(database)
      names.asInstanceOf[java.lang.Iterable[String]].asScala.toVector
    } finally client.getClass.getMethod("close").invoke(client)
  }

  override def rawDocuments(db: String, collection: String): Dataset[String] = {
    import spark.implicits._
    read(db, collection).toJSON.as[String]
  }

  override def load(db: String, collection: String, schema: InferredSchema, mode: Normalizer.Mode): DataFrame =
    Normalizer(schema, read(db, collection), mode)

  def read(db: String, collection: String): DataFrame = {
    requireConnector()
    spark.read.format("mongodb")
      .option("connection.uri", uri)
      .option("database", db)
      .option("collection", collection)
      .load()
  }
}

object Source {
  /** URI dispatch: `mongodb://` / `mongodb+srv://` -> live connector,
    * anything else is treated as a dump-directory path. */
  def apply(spark: SparkSession, uri: String): Source =
    if (uri.startsWith("mongodb://") || uri.startsWith("mongodb+srv://"))
      new MongoSource(spark, uri)
    else new DumpSource(spark, uri)
}
