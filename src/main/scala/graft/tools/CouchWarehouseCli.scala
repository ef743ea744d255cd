package graft.tools

import graft.{Warehouse, WarehouseOptions}
import org.apache.spark.sql.SparkSession

/** CLI analog of the reference's `bin/couchwarehouse.bin.js` (yargs opts at
  * `bin/couchwarehouse.bin.js:6-16`): ingest a changes feed into queryable
  * tables, then run SQL against them.
  *
  * ```
  * sbt "runMain graft.tools.CouchWarehouseCli \
  *      --feed /path/to/changes.txt --database mydb \
  *      [--split type] [--query '{"age":{"$gt":50}}'] \
  *      [--sql 'SELECT ... FROM mydb'] [--verbose]"
  * ```
  *
  * Input modes: `--feed <file|dir>` reads an already-spooled feed, and
  * `--url <couchdb>` (the reference's primary mode,
  * `bin/couchwarehouse.bin.js:7`) spools the live `_changes` feed over
  * HTTP into `--spool-dir` first via [[graft.sources.ChangesSpooler]],
  * honoring `--since` and `--slow` (paced pages, reference
  * `index.js:93-100`). Output targets beyond the native warehouse views:
  * `--es-url`/`--es-index` bulk-exports every built table to
  * Elasticsearch and `--jdbc-url` upserts them into a SQL database — the
  * reference's four `databaseType` targets.
  *
  * Other differences, by design: `--sql` runs the delegated-query half
  * natively instead of printing "now query your SQLite db". `--database`
  * falls back to `COUCH_DATABASE` and `--url` to `COUCH_URL`, mirroring
  * `bin/couchwarehouse.bin.js:4-5` (the env URL is consulted only when
  * `--feed` is absent — `--feed` has no reference analog and must not be
  * shadowed by ambient environment). `--monitor` syncs the spool into a
  * persistent warehouse at `--warehouse-dir`: it applies every chunk the
  * spool holds, then exits (a `Trigger.AvailableNow` run), and a rerun
  * syncs again; it exports nothing, so it refuses the export flags.
  * `--reset` (reference `-r`) wipes the warehouse dir, and with it the
  * streaming checkpoint kept inside it, before a monitor run. User transforms
  * (reference `--transform`, a JS hook file loaded at
  * `index.js:197-200`): `--transform <fully.qualified.ClassName>` loads a
  * [[graft.ops.Transform.Hook]] (a Scala object or a class with a no-arg
  * constructor) reflectively — the arbitrary-code analog of the JS module
  * — and `--drop-fields a,b` stays as the declarative shorthand for the
  * README's delete-field example. Both compose: the `--transform` hook
  * runs first, then the field drop.
  */
object CouchWarehouseCli {

  // shared across rows on each executor; ObjectMapper is thread-safe for read+write
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** doc→doc transform dropping top-level fields (reference README.md
    * transform example "delete a field").
    */
  private[tools] def dropFieldsHook(fields: Seq[String]): graft.ops.Transform.Hook =
    graft.ops.Transform.jsonDocTransform { doc =>
      if (doc == null) null // deleted changes carry no doc
      else mapper.readTree(doc) match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          fields.foreach(o.remove); mapper.writeValueAsString(o)
        case _ => doc
      }
    }

  /** Load a [[graft.ops.Transform.Hook]] by fully-qualified name — the
    * analog of the reference loading a user's JS transform module
    * (`index.js:197-200`). Accepts a Scala `object` (resolved via its
    * `MODULE$` singleton, with or without the trailing `$`) or a class
    * with a public no-arg constructor; either must implement
    * `DataFrame => DataFrame`.
    */
  private[tools] def loadHook(className: String): graft.ops.Transform.Hook = {
    val cls =
      try Class.forName(className)
      catch { case _: ClassNotFoundException => Class.forName(className + "$") }
    // a Scala object compiles to a forwarder class plus a `$` module class
    // holding the MODULE$ singleton — check both before trying a constructor
    def module(c: Class[_]): Option[AnyRef] =
      try Some(c.getField("MODULE$").get(null))
      catch { case _: NoSuchFieldException => None }
    val instance = module(cls)
      .orElse {
        try module(Class.forName(className + "$"))
        catch { case _: ClassNotFoundException => None }
      }
      .getOrElse(cls.getDeclaredConstructor().newInstance())
    // `case h: Function1[_, _]` alone is erased (a String => String would
    // pass and blow up mid-pipeline) — require a concrete apply method
    // that maps a Dataset TO a Dataset, which scalac generates for any
    // class whose static type is DataFrame => DataFrame
    val takesDataFrame = instance.getClass.getMethods.exists { m =>
      m.getName == "apply" && m.getParameterCount == 1 && {
        val p = m.getParameterTypes()(0)
        // exclude the erased apply(Object) bridge every Function1 carries
        p != classOf[Object] &&
          p.isAssignableFrom(classOf[org.apache.spark.sql.Dataset[_]]) &&
          classOf[org.apache.spark.sql.Dataset[_]].isAssignableFrom(m.getReturnType)
      }
    }
    instance match {
      case h: Function1[_, _] if takesDataFrame =>
        h.asInstanceOf[graft.ops.Transform.Hook]
      case other =>
        // throw (not exit): loadHook is also reachable from embedded runs
        throw new IllegalArgumentException(
          s"--transform class ${other.getClass.getName} does not implement " +
            "graft.ops.Transform.Hook (DataFrame => DataFrame)")
    }
  }

  /** A misuse of the command line: printed to stderr, exit status 2. */
  private final case class Usage(msg: String) extends Exception(msg)

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val flag = args(i)
      if (!flag.startsWith("--")) throw Usage(s"unexpected argument: $flag")
      val key = flag.drop(2)
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m(key) = args(i + 1); i += 2
      } else { m(key) = "true"; i += 1 }
    }
    m.toMap
  }

  /** Env lookup, swappable for tests (a JVM cannot set real env vars). */
  private[graft] var env: String => Option[String] = k => sys.env.get(k)

  def main(args: Array[String]): Unit =
    run(args) match { case 0 => case status => sys.exit(status) }

  /** [[main]] without the exit: returns the exit status. */
  private[graft] def run(args: Array[String]): Int =
    try { runArgs(args); 0 }
    catch { case Usage(msg) => Console.err.println(msg); 2 }

  private def runArgs(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val database = opts.get("database")
      .orElse(env("COUCH_DATABASE"))
      .getOrElse(throw Usage("--database (or COUCH_DATABASE) is required"))
    if (opts.contains("monitor"))
      Seq("es-url", "es-index", "jdbc-url", "jdbc-table").find(opts.contains).foreach { f =>
        throw Usage(s"--$f cannot combine with --monitor, which exports nothing")
      }
    // --url spools CouchDB → chunk dir first; --feed uses an existing one.
    // COUCH_URL (reference bin/couchwarehouse.bin.js:4) backs --url, but
    // only when --feed is absent so env never shadows an explicit feed.
    val urlOpt = opts.get("url")
      .orElse(if (opts.contains("feed")) None else env("COUCH_URL"))
    val feed = (opts.get("feed"), urlOpt) match {
      case (Some(f), None) => f
      case (None, Some(u)) =>
        val spoolDir = opts.getOrElse("spool-dir", s"/tmp/graft-spool-$database")
        val sp = new graft.sources.ChangesSpooler(u, database, spoolDir,
          selector = opts.get("query"),
          pauseMillis = if (opts.contains("slow")) 500L else 0L,
          // reference progress bar (index.js:82-86): one line per page
          onProgress =
            if (opts.contains("verbose")) line => println(line) else _ => ())
        val seq = sp.spool(opts.getOrElse("since", "0"))
        println(s"spooled to: $spoolDir (seq $seq)")
        spoolDir
      case _ =>
        throw Usage("exactly one of --feed <changes file|dir> or --url <couchdb url> is required")
    }

    // when embedded (tests, notebooks) an active session is reused and
    // must survive this main returning
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName(s"couchwarehouse-$database")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // a borrowed session keeps its caller's log level
    if (!preexisting) spark.sparkContext.setLogLevel(if (opts.contains("verbose")) "INFO" else "ERROR")

    val wopts = WarehouseOptions(
      database = database,
      split = opts.get("split"),
      mangoSelector = opts.get("query"),
      transform = graft.ops.Transform.chain(
        opts.get("transform").map(loadHook)
          .getOrElse(graft.ops.Transform.identity),
        opts.get("drop-fields")
          .map(fs => dropFieldsHook(fs.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
          .getOrElse(graft.ops.Transform.identity)))

    if (opts.contains("monitor")) {
      // monitor mode (reference monitor loop): apply the spool chunks not
      // yet applied to a persistent bucketed warehouse, then exit
      val whDir = opts.getOrElse("warehouse-dir", s"/tmp/graft-warehouse-$database")
      if (opts.contains("reset"))
        // reference --reset: ignore previously downloaded data, start again
        graft.streaming.StreamIngest.deleteRecursively(java.nio.file.Paths.get(whDir))
      val ingest = new graft.streaming.StreamIngest(spark, wopts, whDir)
      val q = ingest.start(feed, s"$whDir/_spark_checkpoint")
      q.awaitTermination()
      ingest.publish()
      println(s"warehouse: $whDir")
      println(s"checkpoint seq: ${ingest.checkpoint}")
      opts.get("sql").foreach { sql =>
        spark.sql(sql).show(opts.getOrElse("limit", "20").toInt, truncate = false)
      }
    } else {
      val w = Warehouse.start(spark, feed, wopts)
      println(s"tables: ${w.tableNames.mkString(", ")}")
      println(s"checkpoint seq: ${w.checkpoint}")
      // output targets (reference databaseType=elasticsearch / sql). A
      // single-target override is only meaningful for a single table: in
      // --split mode each per-type table has its own schema, and funneling
      // them into one index/table would clash mid-export.
      for (flag <- Seq("es-index", "jdbc-table")
           if opts.contains(flag) && w.tableNames.size > 1)
        throw Usage(s"--$flag cannot combine with --split (${w.tableNames.size} tables); " +
          "per-table names are used — drop the flag")
      opts.get("es-url").foreach { esUrl =>
        w.tableNames.foreach { tbl =>
          val index = opts.getOrElse("es-index", tbl)
          w.exportElasticsearch(tbl, esUrl, index)
          println(s"exported $tbl -> $esUrl/$index")
        }
      }
      opts.get("jdbc-url").foreach { jdbcUrl =>
        w.tableNames.foreach { tbl =>
          val target = opts.getOrElse("jdbc-table", tbl)
          w.exportJdbc(tbl, jdbcUrl, target)
          println(s"exported $tbl -> $jdbcUrl table $target")
        }
      }
      opts.get("sql").foreach { sql =>
        w.query(sql).show(opts.getOrElse("limit", "20").toInt, truncate = false)
      }
    }
    if (!preexisting) spark.stop()
  }
}
