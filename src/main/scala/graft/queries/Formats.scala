package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Format I/O + virtual-column surface (daisy:
  * `src/Processors/Formats/Impl/` — ~25 row formats; virtual columns
  * `_part`/`_shard_num` from `StorageDistributedMergeTree.cpp`).
  *
  * CSV/JSON round-trips live in Coverage (q_format_roundtrip); this
  * module adds the columnar ORC format and TabSeparated (the reference's
  * native text format), each proven by hash-equality with the oracle
  * running on the original parquet — i.e. the round-trip is lossless.
  */
object Formats extends QueryModule {

  private def scratch(dir: String) =
    new org.apache.hadoop.fs.Path(graft.Tables.scratchRoot,
      "fmt2/" + dir.replaceAll("[^a-zA-Z0-9]", "_")).toString

  def queries: Map[String, Q] = Map(
    // ORC round-trip (reference ORCBlockInputFormat): columnar format
    // with predicate pushdown — the filter below reaches the ORC reader.
    "q_format_orc" -> ((s, dir) => {
      val out = scratch(dir) + "/orders_orc"
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("o_totalprice") > 300000)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),

    // Template format (reference TemplateBlockOutputFormat /
    // TemplateRowInputFormat): user format string with per-column
    // serializations, compiled to one concat projection on write and
    // one anchored regex on read (TemplateIO).
    "q_format_template" -> ((s, dir) => {
      val out = scratch(dir) + "/customer_tpl"
      val tpl = "cust ${c_custkey:Raw}: name=${c_name:Quoted} " +
        "seg=${c_mktsegment:CSV} bal=${c_acctbal:Raw}"
      val customer = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal"))
      graft.sources.TemplateIO.write(customer, out, tpl)
      graft.sources.TemplateIO.read(s, out, tpl, customer.schema)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"),
          min(col("c_name")).as("first_name"))
    }),

    // Null output format (reference NullFormat.cpp): the plan executes
    // fully distributed and every row is discarded — Spark's noop sink.
    // The returned aggregate proves the discarded rows were computed.
    "q_format_null" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      graft.sources.NullIO.write(li)
      li.agg(count(lit(1)).cast("long").as("n_discarded"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // TabSeparated round-trip (reference TabSeparatedRowInputFormat —
    // ClickHouse's default text format).
    "q_format_tsv" -> ((s, dir) => {
      val out = scratch(dir) + "/supplier_tsv"
      val supplier = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      supplier.write.mode("overwrite").option("sep", "\t").csv(out)
      s.read.schema(supplier.schema).option("sep", "\t").csv(out)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("bal"))
    }),

    // Avro round-trip (reference AvroRowInputFormat) through the
    // avro-core container codec in graft.sources.AvroIO — written one
    // container per partition, read back file-parallel, then aggregated;
    // hash-equality with the parquet oracle proves losslessness.
    "q_format_avro" -> ((s, dir) => {
      val out = scratch(dir) + "/nation_avro"
      val nation = t(s, dir, "nation")
      graft.sources.AvroIO.write(nation, out)
      graft.sources.AvroIO.read(s, out, nation.schema)
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).cast("long").as("n"), min(col("n_name")).as("first_name"))
    }),

    // Protobuf round-trip (reference ProtobufRowInputFormat) through the
    // wire-format codec in graft.sources.ProtoIO — varint/fixed64/
    // length-delimited fields, delimited stream framing, absent = NULL.
    "q_format_proto" -> ((s, dir) => {
      val out = scratch(dir) + "/orders_pb"
      val ord = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      graft.sources.ProtoIO.write(ord, out)
      graft.sources.ProtoIO.read(s, out, ord.schema)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // MsgPack round-trip (reference MsgPackRowInputFormat: each row one
    // msgpack array of values) through the spec-v5 codec in
    // graft.sources.MsgPackIO — covers the int family (fixint through
    // int64 via the acctbal cents), float64, fixstr and nil.
    "q_format_msgpack" -> ((s, dir) => {
      val out = scratch(dir) + "/customer_msgpack"
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("c_acctbal"))
      graft.sources.MsgPackIO.write(cust, out)
      graft.sources.MsgPackIO.read(s, out, cust.schema)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"),
          countDistinct(col("c_nationkey")).as("n_nations"))
    }),

    // RawBLOB (reference RawBLOBRowInputFormat: the whole input is ONE
    // value of ONE row) via Spark's binaryFile source: a deterministic
    // text blob is written (region names, keyed order, single part),
    // read back as bytes, and content-addressed — the oracle recomputes
    // the same md5 from the table, so the byte identity is hash-checked.
    "q_format_rawblob" -> ((s, dir) => {
      val out = scratch(dir) + "/region_blob"
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        .repartition(1).sortWithinPartitions(col("r_regionkey"))
        .select(col("r_name"))
        .write.mode("overwrite").text(out)
      s.read.format("binaryFile")
        .option("pathGlobFilter", "part-*").load(out)
        .select(md5(col("content")).as("blob_md5"),
          col("length").cast("long").as("n_bytes"))
    }),

    // Cap'n Proto round-trip (reference CapnProtoRowInputFormat: one
    // capnp message per row) through the encoding-spec codec in
    // graft.sources.CapnProtoIO — segment table, root struct pointer,
    // aligned data section, text list pointers; two string columns
    // exercise multi-pointer layout.
    "q_format_capnp" -> ((s, dir) => {
      val out = scratch(dir) + "/part_capnp"
      val part = t(s, dir, "part").select(
        col("p_partkey"), col("p_name"), col("p_size"),
        col("p_brand"), col("p_retailprice"))
      graft.sources.CapnProtoIO.write(part, out)
      graft.sources.CapnProtoIO.read(s, out, part.schema)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("p_retailprice")), 2).as("total"),
          max(col("p_size")).as("max_size"),
          min(col("p_name")).as("first_name"),
          max(col("p_partkey")).as("max_key"))
    }),

    // Native round-trip (reference NativeBlockOutputStream — the
    // columnar block wire format used between servers) through
    // graft.sources.NativeIO: 64k-row blocks, column-contiguous bodies,
    // Nullable null-mask vectors; lineitem exercises all four types at
    // the largest row count of any format query.
    "q_format_native" -> ((s, dir) => {
      val out = scratch(dir) + "/lineitem_native"
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"))
      graft.sources.NativeIO.write(li, out)
      graft.sources.NativeIO.read(s, out, li.schema)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          max(col("l_orderkey")).as("max_key"),
          sum(col("l_linenumber")).cast("long").as("sum_line"))
    }),

    // JSONCompactEachRow round-trip (reference
    // JSONCompactEachRowRowInputFormat — one JSON *array* per line, the
    // format the REST ingest endpoint feeds to INSERT,
    // IngestRestRouterHandler.cpp:78). Write: rows serialized as
    // [k,"str",price] lines with to_json-escaped strings; read:
    // from_json to array<string> (Spark's Jackson parser keeps the raw
    // token text for string-typed elements) + positional casts.
    "q_format_json_compact" -> ((s, dir) => {
      val out = scratch(dir) + "/orders_jsoncompact"
      val strJson = (c: org.apache.spark.sql.Column) => {
        val arr = to_json(array(c))
        arr.substr(lit(2), length(arr) - 2)
      }
      t(s, dir, "orders")
        .select(concat(lit("["),
          col("o_orderkey"), lit(","),
          strJson(col("o_orderstatus")), lit(","),
          strJson(col("o_orderpriority")), lit(","),
          col("o_totalprice"), lit("]")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(from_json(col("value"), ArrayType(StringType)).as("r"))
        .select(element_at(col("r"), 1).cast("long").as("o_orderkey"),
          element_at(col("r"), 2).as("o_orderstatus"),
          element_at(col("r"), 3).as("o_orderpriority"),
          element_at(col("r"), 4).cast("double").as("o_totalprice"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // Values round-trip (reference ValuesBlockInputFormat /
    // ValuesRowOutputFormat — SQL literal tuples `(1,'str',3.5)`, the
    // INSERT ... VALUES wire format). Write: tuples built with concat,
    // strings quoted with '' doubling (SQL literal escaping); read:
    // parens stripped, then from_csv with quote='\'' escape='\'' — the
    // same doubling convention — and the declared row schema.
    "q_format_values" -> ((s, dir) => {
      val out = scratch(dir) + "/part_values"
      t(s, dir, "part")
        .select(concat(lit("("),
          col("p_partkey"), lit(",'"),
          regexp_replace(col("p_type"), lit("'"), lit("''")), lit("','"),
          regexp_replace(col("p_brand"), lit("'"), lit("''")), lit("',"),
          col("p_retailprice"), lit(")")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(from_csv(
          expr("substring(value, 2, length(value) - 2)"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "p_partkey long, p_type string, p_brand string, p_retailprice double"),
          Map("quote" -> "'", "escape" -> "'")).as("r"))
        .select(col("r.*"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("p_retailprice")), 2).as("avg_price"),
          countDistinct(col("p_type")).as("n_types"),
          min(col("p_partkey")).as("min_key"))
    }),

    // JSONAsString / LineAsString (reference JSONAsStringRowInputFormat,
    // LineAsStringRowInputFormat): the file is read as one raw string
    // row per line — schema-on-read, fields extracted lazily with
    // get_json_object (exactly the rawstore pattern).
    "q_format_json_as_string" -> ((s, dir) => {
      val out = scratch(dir) + "/customer_jsonstr"
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .write.mode("overwrite").json(out)
      s.read.text(out)                       // LineAsString: raw lines
        .select(get_json_object(col("value"), "$.c_custkey")
            .cast("long").as("c_custkey"),
          get_json_object(col("value"), "$.c_mktsegment").as("c_mktsegment"),
          get_json_object(col("value"), "$.c_acctbal")
            .cast("double").as("c_acctbal"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"))
    }),

    // RowBinary round-trip (reference BinaryRowInputFormat: per-row
    // concatenation of per-column binary values — LE fixed-width
    // numerics, varUInt-length strings, Nullable flag bytes) through
    // graft.sources.RowBinaryIO with the WithNamesAndTypes header;
    // covers Int64/Int32/Float64/String in one table.
    "q_format_rowbinary" -> ((s, dir) => {
      val out = scratch(dir) + "/part_rowbinary"
      val part = t(s, dir, "part").select(
        col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
      graft.sources.RowBinaryIO.write(part, out)
      graft.sources.RowBinaryIO.read(s, out, part.schema)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("p_retailprice")), 2).as("total"),
          sum(col("p_size")).cast("long").as("sum_size"),
          max(col("p_partkey")).as("max_key"))
    }),

    // TSKV round-trip (reference TSKVRowInput/OutputFormat: tab-separated
    // key=value pairs): serialized with concat, parsed back with
    // str_to_map — schema-on-read from a self-describing text format.
    "q_format_tskv" -> ((s, dir) => {
      val out = scratch(dir) + "/customer_tskv"
      t(s, dir, "customer")
        .select(concat(
          lit("c_custkey="), col("c_custkey"),
          lit("\tc_mktsegment="), col("c_mktsegment"),
          lit("\tc_acctbal="), col("c_acctbal")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(str_to_map(col("value"), lit("\t"), lit("=")).as("kv"))
        .select(col("kv.c_custkey").cast("long").as("c_custkey"),
          col("kv.c_mktsegment").as("c_mktsegment"),
          col("kv.c_acctbal").cast("double").as("c_acctbal"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"))
    }),

    // Regexp input format (reference RegexpRowInputFormat: each line
    // matched against a pattern, capture groups become columns).
    "q_format_regexp" -> ((s, dir) => {
      val out = scratch(dir) + "/orders_lines"
      t(s, dir, "orders")
        .select(format_string("order id=%d status=[%s] total=%.2f",
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")).as("value"))
        .write.mode("overwrite").text(out)
      val pat = "order id=(\\d+) status=\\[(\\w)\\] total=([0-9.]+)"
      s.read.text(out)
        .select(
          regexp_extract(col("value"), pat, 1).cast("long").as("o_orderkey"),
          regexp_extract(col("value"), pat, 2).as("o_orderstatus"),
          regexp_extract(col("value"), pat, 3).cast("double").as("total"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(col("total")), 2).as("sum_total"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // Arrow IPC round-trip (reference ArrowBlockInputFormat) through the
    // arrow-vector container codec in graft.sources.ArrowIO.
    "q_format_arrow" -> ((s, dir) => {
      val out = scratch(dir) + "/supplier_arrow"
      val supplier = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      graft.sources.ArrowIO.write(supplier, out)
      graft.sources.ArrowIO.read(s, out, supplier.schema)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).cast("long").as("n"),
             round(sum(col("s_acctbal")), 2).as("bal"),
             min(col("s_name")).as("first_name"))
    }),

    // JDBC external storage (reference registerStorages.cpp JDBC/ODBC
    // bridges): full write + read through Spark's JDBC source against an
    // embedded Derby database — the same code path talks to any
    // JDBC-accessible store by swapping the URL.
    "q_jdbc_roundtrip" -> ((s, dir) => {
      // Derby writes derby.log into its system home, the working
      // directory by default. Unless the caller placed either, the log
      // goes under the scratch root with the database; Derby reads this
      // when its engine boots, at the first connection.
      if (System.getProperty("derby.system.home") == null &&
          System.getProperty("derby.stream.error.file") == null) {
        new java.io.File(graft.Tables.scratchRoot).mkdirs()
        System.setProperty("derby.stream.error.file",
          new java.io.File(graft.Tables.scratchRoot, "derby.log").getPath)
      }
      val url = s"jdbc:derby:${scratch(dir)}/derby_db;create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val region = t(s, dir, "region")
      region.write.mode("overwrite").jdbc(url, "region_jdbc", props)
      s.read.jdbc(url, "region_jdbc", props)
        .select(col("r_regionkey"), col("r_name"))
    }),

    // aes_encrypt/aes_decrypt (reference registerFunctionsAES —
    // encrypt/decrypt family): ECB keeps the round-trip deterministic so
    // the decrypted output is hash-checked against the plaintext oracle;
    // the ciphertext length pins the block padding.
    "q_format_aes" -> ((s, dir) => {
      val key = lit("0123456789abcdef") // AES-128
      val enc = aes_encrypt(col("s_name").cast("binary"), key, lit("ECB"))
      t(s, dir, "supplier").select(
        col("s_suppkey"),
        aes_decrypt(enc, key, lit("ECB")).cast("string").as("name_roundtrip"),
        length(enc).cast("long").as("cipher_len"))
    }),

    // Virtual columns (_part = input_file_name, _shard_num =
    // spark_partition_id): engine-neutral projection so the oracle can
    // check it exactly — part COUNT and row totals instead of Spark's
    // file names / split ids (the test tables are one parquet file per
    // table, so n_parts is a hard 1 on both sides). Every row still
    // flows through the two virtual columns; sharding breadth is
    // asserted as a boolean, not a split count.
    "q_virtual_columns" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("_part"),
          spark_partition_id().as("_shard_num"))
        // pre-group by the two virtual columns before the two-distinct
        // aggregate: Spark plans multi-column countDistinct as an
        // Expand (3 rows out per row in), so the ungrouped shape pushed
        // 3x the TABLE through the aggregate — grouped, the Expand sees
        // one row per (file, split) pair. Every table row still flows
        // through both virtual columns (the gate's point) and n_rows =
        // sum of group counts is value-identical.
        .groupBy(col("_part"), col("_shard_num"))
        .agg(count(lit(1)).as("n"))
        // boolean has_parts, not the literal count: the part count is a
        // physical-layout property (file split of the test data), and a
        // hash-checked literal would turn any re-generation into a
        // false correctness failure.
        .agg((countDistinct(col("_part")) >= 1).as("has_parts"),
          sum(col("n")).as("n_rows"),
          (countDistinct(col("_shard_num")) >= 1).as("sharded"))
    }))

  def oracles: Map[String, String] = Map(
    "q_virtual_columns" ->
      """SELECT true AS has_parts, count(*) AS n_rows, true AS sharded
        |FROM lineitem""".stripMargin,

    "q_format_avro" ->
      """SELECT n_regionkey, count(*) AS n, min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey""".stripMargin,

    "q_format_proto" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_format_msgpack" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal,
        | max(c_custkey) AS max_key,
        | count(DISTINCT c_nationkey)::BIGINT AS n_nations
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_format_rowbinary" ->
      """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total,
        | sum(p_size)::BIGINT AS sum_size, max(p_partkey) AS max_key
        |FROM part GROUP BY p_brand""".stripMargin,

    "q_format_rawblob" ->
      """SELECT md5(string_agg(r_name || chr(10), '' ORDER BY r_regionkey)) AS blob_md5,
        | sum(length(r_name) + 1)::BIGINT AS n_bytes
        |FROM region""".stripMargin,

    "q_format_capnp" ->
      """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS total,
        | max(p_size) AS max_size, min(p_name) AS first_name,
        | max(p_partkey) AS max_key
        |FROM part GROUP BY p_brand""".stripMargin,

    "q_format_native" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price, max(l_orderkey) AS max_key,
        | sum(l_linenumber)::BIGINT AS sum_line
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_format_json_compact" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_format_values" ->
      """SELECT p_brand, count(*) AS n, round(avg(p_retailprice), 2) AS avg_price,
        | count(DISTINCT p_type)::BIGINT AS n_types, min(p_partkey) AS min_key
        |FROM part GROUP BY p_brand""".stripMargin,

    "q_format_json_as_string" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal,
        | max(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_format_tskv" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal,
        | max(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_format_regexp" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(round(o_totalprice, 2)), 2) AS sum_total,
        | max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_format_arrow" ->
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal,
        | min(s_name) AS first_name
        |FROM supplier GROUP BY s_nationkey""".stripMargin,

    "q_jdbc_roundtrip" ->
      "SELECT r_regionkey, r_name FROM region",

    // PKCS7: padded length = (len/16 + 1) * 16.
    "q_format_aes" ->
      """SELECT s_suppkey, s_name AS name_roundtrip,
        | ((length(s_name) // 16) + 1) * 16 AS cipher_len
        |FROM supplier""".stripMargin,

    "q_format_orc" ->
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_totalprice > 300000
        |GROUP BY o_orderpriority""".stripMargin,

    "q_format_tsv" ->
      """SELECT s_nationkey, count(*) AS n, round(sum(s_acctbal), 2) AS bal
        |FROM supplier GROUP BY s_nationkey""".stripMargin,

    "q_format_template" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal,
        | max(c_custkey) AS max_key, min(c_name) AS first_name
        |FROM customer GROUP BY c_mktsegment""".stripMargin,

    "q_format_null" ->
      """SELECT count(*) AS n_discarded,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem""".stripMargin)
}
