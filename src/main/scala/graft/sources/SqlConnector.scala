package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** SQL database connector (reference: extensions/impl/sql — source.go,
  * lookupSource.go, sink.go) re-expressed on Spark's JDBC data source.
  *
  * Where the reference drives a single `database/sql` connection per
  * rule, graft delegates bounded reads to `spark.read.format("jdbc")`:
  * the scan is planned by Catalyst, filters/column pruning are pushed
  * into the database, and a full-table read can be split across
  * executors with `partitionColumn`/`numPartitions` — the 100 TB path
  * the reference's one-goroutine pull cannot take. Only the unbounded
  * incremental tail (small per-tick pulls by design) runs on a driver
  * bridge thread, mirroring the reference's interval model.
  */
object SqlDialect {
  /** Append a row-limit to `query` per the target database's syntax —
    * the reference ships per-driver query generators
    * (sqlgen/commonSqlDialect.go `limit n`, sqlServerDialect.go `TOP`,
    * oracle's rownum wrap); graft folds them into one strategy keyed
    * by a DIALECT prop. Default is ANSI FETCH FIRST (Derby, Postgres,
    * DB2, SQL Server 2012+).
    */
  def limited(query: String, limit: Int, dialect: String): String =
    if (limit <= 0) query
    else dialect.toLowerCase match {
      case "limit" => s"$query LIMIT $limit" // mysql / sqlite / older pg
      case "top" => query.replaceFirst("(?i)^SELECT ", s"SELECT TOP $limit ")
      case "rownum" => s"SELECT * FROM ($query) WHERE ROWNUM <= $limit" // oracle
      case _ => s"$query FETCH FIRST $limit ROWS ONLY" // ansi
    }

  /** Render a value as a SQL literal for the progressive-index
    * condition (reference commonSqlDialect.go quoteValue). Strings
    * escape embedded quotes by doubling (sink.go quoteSQLString);
    * timestamps use the portable JDBC escape.
    */
  def literal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case t: java.sql.Timestamp => s"{ts '${t.toString}'}"
    case d: java.sql.Date => s"{d '${d.toString}'}"
    case other => String.valueOf(other)
  }

  /** SQL identifiers interpolated into generated statements must be
    * plain identifiers — same guard as the reference's
    * isSafeDynamicFieldName (sink.go:99-117), which rejects dynamic
    * message keys that could alter SQL syntax.
    */
  def checkIdentifier(name: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_.]*"), s"unsafe SQL identifier: $name")
    name
  }
}

/** Progressive-pull SQL source (reference SQLSourceConnector +
  * InternalSqlQueryCfg): each pull runs
  * `SELECT * FROM table [WHERE f > last AND ...] [ORDER BY f ASC] [limit]`
  * and advances the tracked max index so the next pull sees only new
  * rows. With no `indexFields` a pull is a plain table scan (eKuiper
  * scan-table semantics).
  *
  *  - `batch` = ONE pull, as a distributed JDBC read. JDBC
  *    reader options (driver, numPartitions, partitionColumn,
  *    lowerBound, upperBound, fetchsize) pass through from `options`.
  *  - `stream` = a bridge thread pulling every `intervalMs` and
  *    pushing rows as JSON frames into [[ConnectorFeed]]; the rule
  *    reads the feed as micro-batches like every other connector.
  *  - `offset`/`rewind` mirror the reference's GetOffset/Rewind for
  *    checkpoint recovery.
  */
final case class SqlSource(dburl: String, table: String,
                           indexFields: Seq[String] = Nil,
                           limit: Int = 0,
                           intervalMs: Long = 1000,
                           options: Map[String, String] = Map.empty) extends Source {
  import SqlDialect._

  checkIdentifier(table)
  indexFields.foreach(checkIdentifier)
  private val dialect = options.getOrElse("dialect", "ansi")

  // tracked max index value per index field (reference store.IndexFieldStore);
  // updated after every pull, swapped wholesale by rewind
  private val index = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  /** Current progressive offset (reference GetOffset). */
  def offset: Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    index.asScala.toMap
  }

  /** Restore a checkpointed offset (reference Rewind/ResetOffset). */
  def rewind(values: Map[String, Any]): Unit = {
    index.clear()
    values.foreach { case (k, v) => index.put(k, v) }
  }

  /** The next pull's SELECT (reference SqlQueryStatement). */
  def queryStatement: String = {
    val conds = indexFields.flatMap(f => Option(index.get(f)).map(v => s"$f > ${literal(v)}"))
    val where = if (conds.isEmpty) "" else conds.mkString(" WHERE ", " AND ", "")
    val order =
      if (indexFields.isEmpty) "" else indexFields.mkString(" ORDER BY ", " ASC, ", " ASC")
    limited(s"SELECT * FROM $table$where$order", limit, dialect)
  }

  // pass-through options Spark's JDBC reader understands
  private val jdbcOpts = options.view.filterKeys(Set(
    "driver", "numpartitions", "partitioncolumn", "lowerbound", "upperbound",
    "fetchsize", "sessioninitstatement", "user", "password")).toMap

  private def reader(spark: SparkSession) =
    spark.read.format("jdbc").option("url", dburl).options(jdbcOpts)

  /** One progressive pull as a distributed JDBC read, pinned to a
    * CLOSED interval: the upper bound is probed first (one tiny driver
    * JDBC round-trip over the same `> last` row set, limit included),
    * then the distributed scan reads `f > last AND f <= max` — rows
    * inserted between the probe and the scan belong to the NEXT pull
    * instead of being returned now and re-returned later (the eager
    * MAX() of the previous design double-pulled them). The pinned
    * interval also makes the returned frame reproducible: a pull that
    * fails downstream is recovered by `rewind(offset-before)` — the
    * reference's Rewind contract — and re-reads the identical row set.
    *
    * LIMIT-boundary ties (single index field): rows tied with a full
    * page's MAX may sit just beyond the LIMIT cut — advancing to that
    * value would skip them forever behind the next pull's `>`
    * predicate. A full page costs one extra tiny probe comparing the
    * table's in-range row count against the page; when ties were cut,
    * the upper bound retreats to the last distinct value BELOW the
    * page max, and if the whole page is one value the pull drops the
    * LIMIT for this interval and returns every tied row instead.
    * Unique indexes never trigger the retreat. Composite indexes
    * can't express this with per-field predicates — there the field
    * combination must be unique/monotonic, as the reference requires
    * of indexFields.
    */
  def batch(spark: SparkSession): DataFrame = {
    if (indexFields.isEmpty)
      return reader(spark).option("query", queryStatement).load()
    val q0 = queryStatement
    val probeQ = indexFields.map(f => s"MAX($f)").mkString(
      "SELECT COUNT(*), ", ", ", s" FROM ($q0) graft_pull")
    val (pageRows, upper0) = SqlBridges.withConnection(dburl, options) { conn =>
      val rs = conn.createStatement().executeQuery(probeQ)
      if (rs.next())
        (rs.getLong(1), indexFields.zipWithIndex.flatMap { case (f, i) =>
          Option(rs.getObject(i + 2)).map(f -> _)
        }.toMap)
      else (0L, Map.empty[String, Any])
    }
    if (upper0.size < indexFields.length) {
      // no new rows at probe time: an empty pull, index unchanged
      val empty = limited(
        s"SELECT * FROM $table WHERE 1 = 0", limit, dialect)
      return reader(spark).option("query", empty).load()
    }
    val lower =
      indexFields.flatMap(f => Option(index.get(f)).map(v => s"$f > ${literal(v)}"))
    val order = indexFields.mkString(" ORDER BY ", " ASC, ", " ASC")
    // a full single-field page may be cut mid-tie: check whether the
    // TABLE holds more rows in (last, pageMax] than the page returned
    // (the ordered page contains every in-range row below pageMax, so
    // an excess can only be pageMax ties beyond the LIMIT cut)
    val (upper, keepLimit) =
      if (limit <= 0 || pageRows < limit || indexFields.length != 1) (upper0, true)
      else {
        val f = indexFields.head
        val rangeConds = (lower :+ s"$f <= ${literal(upper0(f))}")
          .mkString(" WHERE ", " AND ", "")
        val (inRange, belowMax) = SqlBridges.withConnection(dburl, options) { conn =>
          val rs = conn.createStatement().executeQuery(
            s"SELECT COUNT(*), MAX(CASE WHEN $f < ${literal(upper0(f))} THEN $f END)" +
              s" FROM $table$rangeConds")
          rs.next()
          (rs.getLong(1), Option(rs.getObject(2)))
        }
        if (inRange <= pageRows) (upper0, true) // no ties were cut
        else belowMax match {
          case Some(v) => (Map(f -> (v: Any)), true) // retreat below the tie
          case None => (upper0, false) // one-value page: take ALL tied rows
        }
      }
    val conds = lower ++ indexFields.map(f => s"$f <= ${literal(upper(f))}")
    val base = s"SELECT * FROM $table${conds.mkString(" WHERE ", " AND ", "")}$order"
    val q = if (keepLimit) limited(base, limit, dialect) else base
    val df = reader(spark).option("query", q).load()
    upper.foreach { case (f, v) => index.put(f, v) }
    df
  }

  /** Feed topic the streaming bridge publishes under. */
  def feedTopic: String = s"$dburl/$table"

  /** Unbounded form: interval pulls ride a bridge into the connector
    * feed; schema comes from the database's own metadata, so the
    * decoded stream is typed without a declared schema.
    */
  def stream(spark: SparkSession): DataFrame = {
    SqlBridges.ensurePull(this)
    val schema = SqlBridges.tableSchema(spark, dburl, table, jdbcOpts)
    ConnectorSource("sql", feedTopic, schema, options - "server").stream(spark)
  }
}

/** Lookup form (reference SqlLookupSource): point queries against a
  * dimension table. Spark-first: the JDBC relation is filtered with
  * Column predicates, which the JDBC source PUSHES DOWN into the
  * database's WHERE clause — same wire query as the reference's
  * hand-built `SELECT f FROM t WHERE k = v`, but planned by Catalyst
  * and composable with the rest of the rule's plan (joins, projections
  * prune columns server-side too).
  */
final case class SqlLookupSource(dburl: String, table: String,
                                 options: Map[String, String] = Map.empty)
    extends Source with LookupCapable {
  SqlDialect.checkIdentifier(table)

  private val jdbcOpts = options.view.filterKeys(Set(
    "driver", "fetchsize", "user", "password")).toMap

  def batch(spark: SparkSession): DataFrame =
    spark.read.format("jdbc").option("url", dburl).options(jdbcOpts)
      .option("dbtable", table).load()

  /** eKuiper Lookup(fields, keys, values): equality point-query. */
  def lookup(spark: SparkSession, fields: Seq[String],
             keys: Seq[String], values: Seq[Any]): DataFrame = {
    require(keys.length == values.length, "keys/values length mismatch")
    val filtered = keys.zip(values).foldLeft(batch(spark)) {
      case (df, (k, v)) => df.filter(col(k) === lit(v))
    }
    if (fields.isEmpty) filtered else filtered.select(fields.map(col).toIndexedSeq: _*)
  }

  def stream(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException(
      "sql lookup tables are bounded; use them as TABLE sources")
}

/** Shared driver-side JDBC helpers + the interval-pull bridges behind
  * `SqlSource.stream`. One bridge per source instance; frames land in
  * [[ConnectorFeed]] exactly like mqtt/redis bridge frames, so stream
  * plumbing downstream is identical.
  */
object SqlBridges {
  private val bridges =
    new java.util.concurrent.ConcurrentHashMap[SqlSource, AutoCloseable]()

  def withConnection[A](dburl: String, options: Map[String, String])(f: java.sql.Connection => A): A = {
    options.get("driver").foreach(Class.forName) // ensure registration
    val info = new java.util.Properties()
    options.get("user").foreach(info.setProperty("user", _))
    options.get("password").foreach(info.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(dburl, info)
    try f(conn) finally conn.close()
  }

  /** StructType of `table` from JDBC metadata via an empty-result
    * probe — the typed contract the streaming decode uses.
    */
  def tableSchema(spark: SparkSession, dburl: String, table: String,
                  jdbcOpts: Map[String, String]): StructType =
    spark.read.format("jdbc").option("url", dburl).options(jdbcOpts)
      .option("query", s"SELECT * FROM ${SqlDialect.checkIdentifier(table)}")
      .load().schema

  /** JSON-encode one JDBC row for the connector feed. Timestamps render
    * ISO-8601 so Spark's JSON reader restores TimestampType.
    */
  private def rowJson(rs: java.sql.ResultSet, cols: Seq[String]): String =
    cols.zipWithIndex.map { case (c, i) =>
      val v = rs.getObject(i + 1) match {
        case null => "null"
        case t: java.sql.Timestamp =>
          "\"" + t.toInstant.toString.stripSuffix("Z") + "Z\""
        case d: java.sql.Date => "\"" + d.toString + "\""
        case s: String =>
          "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
        case b: java.lang.Boolean => b.toString
        case n: Number => n.toString
        case other => "\"" + other.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      }
      "\"" + c + "\": " + v
    }.mkString("{", ", ", "}")

  /** Start (idempotently) the interval-pull loop for `src`. Each tick
    * runs the progressive query over ONE driver connection — the
    * incremental tail is small by construction (index-bounded, LIMIT) —
    * and pushes each row as a frame; the index advances row-by-row like
    * the reference's UpdateMaxIndexValue, so a crash mid-pull resumes
    * exactly after the last pushed row.
    */
  def ensurePull(src: SqlSource): Unit =
    bridges.computeIfAbsent(src, _ => {
      @volatile var running = true
      val loop = new Thread(() => {
        while (running) {
          try pullOnce(src)
          catch { case _: Exception if !running => () case _: Exception => () }
          Thread.sleep(src.intervalMs)
        }
      }, s"sql-bridge-${src.table}")
      loop.setDaemon(true)
      loop.start()
      () => running = false
    })

  /** One progressive pull over plain JDBC, pushing rows to the feed. */
  def pullOnce(src: SqlSource): Int =
    withConnection(src.dburl, src.options) { conn =>
      val rs = conn.createStatement().executeQuery(src.queryStatement)
      val md = rs.getMetaData
      // labels keep the driver's case — they must match the JDBC-read
      // schema the stream decode uses
      val cols = (1 to md.getColumnCount).map(md.getColumnLabel(_))
      var n = 0
      while (rs.next()) {
        ConnectorFeed.push("sql", src.feedTopic, rowJson(rs, cols), System.currentTimeMillis())
        src.rewind(src.offset ++ src.indexFields.flatMap(f =>
          Option(rs.getObject(f)).map(f -> _)))
        n += 1
      }
      n
    }

  def closeAll(): Unit = {
    bridges.forEach((_, c) => try c.close() catch { case _: Exception => () })
    bridges.clear()
  }
}
