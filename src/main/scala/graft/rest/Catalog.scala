package graft.rest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TimeTable

/** Minimal typed catalog — the reference's DDL surface
  * (daisy `POST /dae/v1/ddl/tables` —
  * `src/Server/RestRouterHandlers/TabularTableRestRouterHandler.cpp:33-48`:
  * typed columns with defaults, `_time` auto-column, ORDER BY +
  * partition-by-granularity). Metadata persists as one JSON file per
  * table under `<root>/_catalog/`; data lives as a time-partitioned
  * parquet table under `<root>/<table>/` (TimeTable layout, buckets in
  * UTC, so `_time`-bounded searches prune partitions).
  */
final case class ColumnDef(name: String, sqlType: String)

final case class TableDef(name: String, columns: Seq[ColumnDef],
                          orderBy: Seq[String], granularity: String,
                          subtype: String = "tabular") {
  def timeGranularity: TimeTable.Granularity = granularity match {
    case "H" => TimeTable.Hourly
    case "M" => TimeTable.Monthly
    case _ => TimeTable.Daily
  }
  /** Full schema: declared columns plus the `_time` auto-column. */
  def schema: StructType = {
    val declared = columns.map(c =>
      StructField(c.name, CatalystSqlParser.parse(c.sqlType)))
    val withTime =
      if (declared.exists(_.name == "_time")) declared
      else declared :+ StructField("_time", TimestampType)
    StructType(withTime)
  }
}

/** Tiny helper so TableDef stays serialization-friendly. */
object CatalystSqlParser {
  def parse(t: String): DataType = DataType.fromDDL(t)
}

class Catalog(spark: SparkSession, root: String) {
  import Catalog._

  private val catalogDir = new java.io.File(root, "_catalog")

  /** Data root (system.parts walks it for partition/file metadata). */
  def rootDir: String = root
  catalogDir.mkdirs()
  // the writers' `time_bucket` (TimeTable.bucket), also on a session
  // that never ran Tables.tune
  graft.functions.GraftScalar.register(spark)

  def list(): Seq[String] =
    Option(catalogDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".json")).map(_.getName.stripSuffix(".json"))
      .sorted.toSeq

  def get(name: String): Option[TableDef] = {
    val f = new java.io.File(catalogDir, s"$name.json")
    if (!f.exists()) None
    else Some(fromJson(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")))
  }

  def create(tdef: TableDef): Unit = {
    require(tdef.name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad table name: ${tdef.name}")
    require(get(tdef.name).isEmpty, s"table exists: ${tdef.name}")
    tdef.schema // validates types
    java.nio.file.Files.writeString(
      new java.io.File(catalogDir, s"${tdef.name}.json").toPath, toJson(tdef))
  }

  private def save(tdef: TableDef): Unit =
    java.nio.file.Files.writeString(
      new java.io.File(catalogDir, s"${tdef.name}.json").toPath, toJson(tdef))

  /** ALTER ADD COLUMN (daisy ColumnRestRouterHandler POST): metadata-only
    * — parquet files written before the change simply lack the column and
    * read back as NULL under the declared schema, the same contract as
    * the reference's default-less ALTER. */
  def addColumn(table: String, cd: ColumnDef): Unit = {
    val tdef = get(table).getOrElse(sys.error(s"no such table: $table"))
    require(cd.name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad column name: ${cd.name}")
    require(!tdef.schema.fieldNames.contains(cd.name), s"column exists: ${cd.name}")
    CatalystSqlParser.parse(cd.sqlType) // validates
    save(tdef.copy(columns = tdef.columns :+ cd))
  }

  /** ALTER DROP COLUMN (daisy ColumnRestRouterHandler DELETE):
    * metadata-only; the bytes stay in old files but every read projects
    * them away. `_time` and ORDER BY columns are load-bearing. */
  def dropColumn(table: String, colName: String): Unit = {
    val tdef = get(table).getOrElse(sys.error(s"no such table: $table"))
    require(colName != "_time", "_time is the table's partition clock")
    require(!tdef.orderBy.contains(colName), s"$colName is in ORDER BY")
    require(tdef.columns.exists(_.name == colName), s"no such column: $colName")
    save(tdef.copy(columns = tdef.columns.filterNot(_.name == colName)))
  }

  def drop(name: String): Boolean = {
    val meta = new java.io.File(catalogDir, s"$name.json")
    val existed = meta.exists()
    meta.delete()
    val data = new org.apache.hadoop.fs.Path(dataPath(name))
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(data, true)
    graft.Tables.tableWritten(dataPath(name))
    existed
  }

  private def dataPath(name: String) = s"$root/$name"

  private def hasData(name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dataPath(name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Read a table (empty frame with the declared schema if no data yet). */
  def table(name: String): DataFrame =
    read(get(name).getOrElse(sys.error(s"no such table: $name")))

  /** A table with data is read with its granularity unit as the
    * [[TimeTable.UnitOption]] reader option, so `_time`-bounded queries
    * over it list only their time buckets ([[TimeTable.PruneBuckets]]). */
  private def read(tdef: TableDef): DataFrame =
    if (hasData(tdef.name))
      spark.read.option(TimeTable.UnitOption, tdef.timeGranularity.truncUnit)
        .schema(tdef.schema.add(TimeTable.BucketCol, StringType))
        .parquet(dataPath(tdef.name)).drop(TimeTable.BucketCol)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tdef.schema)

  /** Ingest rows (REST `{columns, data}` payload — string cells cast to
    * the declared types; `_time` defaults to now; `_idem` key dedup
    * within the batch, on the driver where the payload already sits,
    * mirroring `WalCommitter.commitBatch`: the first row per non-null key
    * and every keyless row commit). Returns committed row count. */
  def ingest(name: String, columns: Seq[String],
             data: Seq[Seq[String]]): Long = {
    val tdef = get(name).getOrElse(sys.error(s"no such table: $name"))
    val schema = tdef.schema
    // `_idem` is a reserved ingest-only key (the WAL Record idempotent
    // key, `Record.h:19,39-41`) — accepted in the payload, used for
    // dedup, never stored.
    val known = schema.fieldNames.toSet + "_idem"
    require(columns.forall(known), s"unknown columns: ${columns.filterNot(known)}")
    val strSchema = StructType(columns.map(StructField(_, StringType)))
    val idem = columns.indexOf("_idem")
    val seen = scala.collection.mutable.HashSet.empty[String]
    val rows = data.map(cells => Row.fromSeq(cells.padTo(columns.length, null)))
      .filter(r => idem < 0 || r.isNullAt(idem) || seen.add(r.getString(idem)))
      .toList
    // ONE slice → one part file per insert block (the reference's
    // MergeTree part-per-INSERT semantics, `Record.h` block framing) —
    // and a single-file append commits atomically, so a concurrent
    // WATCH re-evaluation sees all of the batch or none of it. REST
    // JSON ingest is inherently a small-batch path; bulk loads go
    // through the WAL/file routes.
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), strSchema).drop("_idem")
    val typed = schema.fields.filter(f => raw.columns.contains(f.name))
      .foldLeft(raw) { (df, f) => df.withColumn(f.name, col(f.name).cast(f.dataType)) }
    val complete = schema.fields.foldLeft(typed) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(schema.fieldNames.map(col).toSeq: _*)
    val withTime = complete.withColumn("_time",
      coalesce(col("_time"), current_timestamp()))
    val bucketed = withTime.withColumn(TimeTable.BucketCol,
      TimeTable.bucket(tdef.timeGranularity.truncUnit, col("_time")))
    val arranged =
      if (tdef.orderBy.nonEmpty)
        bucketed.sortWithinPartitions(tdef.orderBy.map(col): _*)
      else bucketed
    arranged.write.mode("append")
      .partitionBy(TimeTable.BucketCol).parquet(dataPath(name))
    graft.Tables.tableWritten(dataPath(name))
    rows.size
  }

  // ---- databases (daisy DatabaseRestRouterHandler): grouping metadata.
  // Tables keep flat names in SQL (the reference's default-database
  // behavior); a database is an explicit namespace entry tables can be
  // attributed to via the `database` query param at create time.
  private val dbFile = new java.io.File(catalogDir, "_databases.txt")

  def listDatabases(): Seq[String] =
    if (!dbFile.exists()) Seq("default")
    else ("default" +: new String(java.nio.file.Files.readAllBytes(dbFile.toPath), "UTF-8")
      .split("\n").filter(_.nonEmpty).toSeq).distinct

  def createDatabase(name: String): Unit = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad database name: $name")
    require(!listDatabases().contains(name), s"database exists: $name")
    java.nio.file.Files.writeString(dbFile.toPath,
      (listDatabases().drop(1) :+ name).mkString("\n"))
  }

  def dropDatabase(name: String): Boolean = {
    require(name != "default", "cannot drop the default database")
    val dbs = listDatabases().drop(1)
    val existed = dbs.contains(name)
    if (existed)
      java.nio.file.Files.writeString(dbFile.toPath,
        dbs.filterNot(_ == name).mkString("\n"))
    existed
  }

  /** Create a rawstore (daisy RawstoreTableRestRouterHandler.cpp:84-95 —
    * the fixed schema-on-read log store columns). */
  def createRawstore(name: String): Unit =
    create(TableDef(name,
      graft.core.Rawstore.schema.fields.map(f =>
        ColumnDef(f.name, f.dataType.sql)).toSeq,
      orderBy = Seq("sourcetype"), granularity = "D", subtype = "rawstore"))

  /** Ingest raw event lines into a rawstore: `_time` comes from a
    * `timestamp` field inside the raw JSON when present (the reference's
    * time extraction), else ingestion time. */
  def ingestRaw(name: String, sourcetype: String, lines: Seq[String],
                source: String = "rest", host: String = "localhost"): Long = {
    val tdef = get(name).getOrElse(sys.error(s"no such rawstore: $name"))
    require(tdef.subtype == "rawstore", s"$name is not a rawstore")
    import spark.implicits._
    val raw = spark.createDataset(lines.toList).toDF("_raw")
      .withColumn("_time", coalesce(
        to_timestamp(get_json_object(col("_raw"), "$.timestamp")),
        current_timestamp()))
      .withColumn("_index_time", current_timestamp())
      .withColumn("sourcetype", lit(sourcetype))
      .withColumn("source", lit(source))
      .withColumn("host", lit(host))
    raw.withColumn(TimeTable.BucketCol,
        TimeTable.bucket(tdef.timeGranularity.truncUnit, col("_time")))
      .sortWithinPartitions(col("sourcetype"))
      .write.mode("append")
      .partitionBy(TimeTable.BucketCol).parquet(dataPath(name))
    graft.Tables.tableWritten(dataPath(name))
    lines.size
  }

  private val registered =
    new java.util.concurrent.ConcurrentHashMap[String, Registered]()
  private val registering = new Object

  private def tempView(name: String): Option[AnyRef] =
    spark.sessionState.catalog.getRawTempView(name)

  /** Register the catalog tables `named` picks as temp views (search
    * queries reference tables by name). A view is rebuilt, re-listing
    * its files, only when the table's write epoch or definition differs
    * from its last registration or the view is not the one registered;
    * otherwise nothing is listed. Every `Tables.tableWritten` call (all
    * graft writers, and drop) bumps the epoch before it returns, so a
    * search sees each ingest acknowledged before it; files put under a
    * table directory any other way are seen after the table's next write
    * or DDL. Rebuilds are serialized, so a view is never replaced by an
    * older listing. */
  def registerViews(named: String => Boolean = _ => true): Unit =
    list().filter(named).foreach { n =>
      // the epoch is read before `read` lists the files
      def wanted = get(n).map(Registered(graft.Tables.writeEpoch(dataPath(n)), _, null))
      def upToDate(w: Registered) = {
        val r = registered.get(n)
        r != null && r.copy(view = null) == w && tempView(n).exists(_ eq r.view)
      }
      if (!wanted.forall(upToDate)) registering.synchronized {
        wanted.filterNot(upToDate).foreach { w =>
          read(w.tdef).createOrReplaceTempView(n)
          registered.put(n, w.copy(view = tempView(n).orNull))
        }
      }
    }
}

object Catalog {
  // hand-rolled JSON for the tiny TableDef shape — keeps the catalog
  // dependency-free (same escaping rules as Verify's dump).
  def toJsonString(s: String): String = q(if (s == null) "" else s)

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def toJson(t: TableDef): String = {
    val cols = t.columns.map(c =>
      s"""{"name":${q(c.name)},"type":${q(c.sqlType)}}""").mkString(",")
    val ob = t.orderBy.map(q).mkString(",")
    s"""{"name":${q(t.name)},"columns":[$cols],"order_by":[$ob],"partition_by_granularity":${q(t.granularity)},"subtype":${q(t.subtype)}}"""
  }

  /** What a view was registered from: the table's write epoch (read
    * before its files were listed), its definition, and the session's
    * view object, so a view replaced or dropped by anyone else is seen. */
  private final case class Registered(epoch: Long, tdef: TableDef, view: AnyRef)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def fromJson(s: String): TableDef = {
    val m = mapper.readTree(s)
    import scala.jdk.CollectionConverters._
    TableDef(
      m.get("name").asText(),
      m.get("columns").elements().asScala.map(c =>
        ColumnDef(c.get("name").asText(), c.get("type").asText())).toSeq,
      Option(m.get("order_by")).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Nil),
      Option(m.get("partition_by_granularity")).map(_.asText()).getOrElse("D"),
      Option(m.get("subtype")).map(_.asText()).getOrElse("tabular"))
  }
}
