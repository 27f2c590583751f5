package graft

import java.nio.file.{Files, Path, Paths}

import graft.normalize.Normalizer
import graft.sources.Source

/** CLI façade — the A23 surface (reference: mongo2pq/main.py:100-182,
  * argparse `-u -o -s -d -c -p -S -C -D`). The URI goes through
  * [[graft.sources.Source]]: a `mongodb://` URI is the live connector,
  * anything else a directory of extended-JSON dumps where each
  * `<name>.jsonl` under `<uri>/<db>/` is one collection (SURVEY.md
  * §7.4.7 — no connector jar ships with the image).
  *
  * Semantics mirrored from the reference:
  *  - no `--db` -> first database found (main.py:33-35);
  *  - no `--collections` -> every collection in the db (main.py:36-37);
  *  - missing schema file -> warn, infer instead (main.py:150-157);
  *  - missing config file -> warn, continue without (main.py:159-162);
  *  - collections processed sequentially, each one Spark write job
  *    (main.py:55, 88-95).
  */
object Main {

  final case class Args(
      uri: Option[String] = sys.env.get("MONGODB_URI"),
      outdir: String = "./",
      samples: Int = 20000,
      db: Option[String] = None,
      collections: Seq[String] = Nil,
      partition: Option[String] = None,
      schemas: Seq[String] = Nil,
      config: Option[String] = sys.env.get("MONGO2PQ_CONFIG"),
      debugConfig: Boolean = false)

  def parseArgs(argv: List[String], acc: Args = Args()): Either[String, Args] = argv match {
    case Nil => if (acc.uri.isEmpty)
        Left("ERROR: URI for MongoDB not passed. Use --uri option or MONGODB_URI env variable.")
      else Right(acc)
    case ("-u" | "--uri") :: v :: rest => parseArgs(rest, acc.copy(uri = Some(v)))
    case ("-o" | "--outdir") :: v :: rest => parseArgs(rest, acc.copy(outdir = v))
    case ("-s" | "--samples") :: v :: rest => parseArgs(rest, acc.copy(samples = v.toInt))
    case ("-d" | "--db") :: v :: rest => parseArgs(rest, acc.copy(db = Some(v)))
    case ("-c" | "--collections") :: rest =>
      val (vals, tail) = rest.span(!_.startsWith("-"))
      parseArgs(tail, acc.copy(collections = vals))
    case ("-p" | "--partition") :: v :: rest => parseArgs(rest, acc.copy(partition = Some(v)))
    case ("-S" | "--schemas") :: rest =>
      val (vals, tail) = rest.span(!_.startsWith("-"))
      parseArgs(tail, acc.copy(schemas = vals))
    case ("-C" | "--config") :: v :: rest => parseArgs(rest, acc.copy(config = Some(v)))
    case ("-D" | "--debug_config") :: rest => parseArgs(rest, acc.copy(debugConfig = true))
    case other :: _ => Left(s"ERROR: unknown argument $other")
  }

  def main(argv: Array[String]): Unit = {
    parseArgs(argv.toList) match {
      case Left(err) => System.err.println(err); sys.exit(1)
      case Right(args) => sys.exit(run(args))
    }
  }

  def run(args: Args): Int = {
    val uri = args.uri.get
    // schema files map: stem -> path (main.py:56-58 analogue)
    val schemaFor: Map[String, String] = args.schemas.flatMap { s =>
      val p = Paths.get(s)
      if (Files.isRegularFile(p)) Some(stem(p) -> s)
      else { println(s"WARNING: Schema '$s' doesn't exist. Schema will be inferred"); None }
    }.toMap
    val config = args.config.filter { c =>
      val ok = Files.isRegularFile(Paths.get(c))
      if (!ok) println(s"WARNING: Config '$c' doesn't exist. No config will be used")
      ok
    }

    val spark = Sessions.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("mongo2pqspark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // catalog resolution (A2): a dump directory or a live MongoDB URI
      val source = Source(spark, uri)
      val dbs =
        try source.listDatabases()
        catch { case e: java.io.IOException =>
          System.err.println(s"ERROR: cannot list databases at $uri: $e"); return 1 }
      val db = args.db.orElse(dbs.headOption).getOrElse {
        System.err.println("ERROR: no databases found"); return 1
      }
      val available = source.listCollections(db)
      val wanted = if (args.collections.nonEmpty) available.filter(args.collections.contains)
        else available
      wanted.foreach { name =>
        val result = Engine.runCollection(spark, source, db, Engine.JobConfig(
          input = s"$uri/$db/$name",
          collection = name,
          outDir = args.outdir,
          schemaFile = schemaFor.get(name),
          configFile = config,
          partitionKey = args.partition,
          samples = args.samples,
          mode = Normalizer.Strict,
          schemaOutDir = Some(args.outdir)))
        println(s"[$name] wrote ${result.rowsWritten} rows to ${result.outPath}")
        if (args.debugConfig)
          // same filename the reference uses (main.py:79-80)
          graft.schema.SchemaYaml.dumpToFile(result.schema, Paths.get(args.outdir),
            Some(s"${name}_config_applied.yaml"))
      }
      0
    } finally spark.stop()
  }

  private def stem(p: Path): String = {
    val n = p.getFileName.toString
    n.substring(0, n.lastIndexOf('.'))
  }
}
