package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Q, Tables}
import graft.streaming.LakeFixture
import graft.streaming.LakeFixture.census

/** Oracle-gated NON-PARQUET batch scan paths (SURVEY §2.2 "Scans: JSON/CSV
  * batch" + ORC): each query round-trips a fixture table through a text or
  * columnar interchange format — distributed write, explicit-schema
  * distributed read-back — and aggregates the result, hash-compared against
  * the same aggregate computed by DuckDB over the ORIGINAL parquet. A value
  * that does not survive the format (a double losing digits in CSV, a date
  * shifting in JSON, a string mangled by quoting) breaks the hash, so the
  * green row certifies the serializer/parser pair end-to-end, not just that
  * the scan runs.
  *
  * Scale shape: format interchange is a real pipeline stage (landing
  * CSV/JSON feeds → columnar lake), and both sides here keep its 100 TB
  * shape: the write preserves the source partitioning (no coalesce — one
  * task per partition), the read-back supplies the schema EXPLICITLY
  * (`schema(...)`) so no inference pre-scan of the whole dataset ever runs,
  * and the downstream aggregate is the usual partial+final hash agg. The
  * scratch directory is RAM-backed when /dev/shm is writable (falling back
  * to java.io.tmpdir) — verification plumbing, not part of the operator:
  * the lake verbs rewrite whole leaf sets (purge, restore, clone, z-order
  * compaction), and on this box java.io.tmpdir is spinning ext4 while the
  * replay harness already stages on tmpfs, so a disk-backed scratch times
  * the sandbox's disk, not the operator (guide §1.4/§6). A production lake
  * lives on real storage the deployment sizes — durability of a
  * verification scratch is not part of the contract being measured.
  */
object FormatQueries {

  /** One STABLE scratch dir per prefix, reused across invocations with
    * mode=overwrite — Bench re-runs (contention re-measures run a suspect
    * query up to 3×) and the plan suites execute these closures repeatedly,
    * so per-invocation fresh dirs accumulate table copies and shutdown-hook
    * threads for the life of the JVM. Reuse bounds disk to one copy per
    * (format, table) and hooks to one per dir; the hook remains only as the
    * exit-time backstop. Eager post-query deletion is NOT safe here: the
    * returned DataFrame reads the dir lazily, after the closure returns.
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def scratchDir(prefix: String): String =
    scratchDirs.computeIfAbsent(prefix, { p =>
      val dir = graft.streaming.ReplayHarness.scratchDir(p)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(dir.toFile)
      }))
      dir.toString
    })

  /** Round-trip `df` through `format` in the format's scratch dir and read it
    * back with the source schema. Options apply to both sides (CSV needs
    * header on write and read).
    */
  private def roundTrip(df: DataFrame, format: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val dir = scratchDir(s"graft_fmt_${format}_")
    df.write.options(options).format(format).mode("overwrite").save(dir)
    df.sparkSession.read.options(options).schema(df.schema).format(format).load(dir)
  }

  /** f1: CSV round-trip of the customer table. CSV is the hostile format —
    * quoting (names contain commas), header skipping, and text round-trip
    * of doubles (Spark writes the shortest representation that parses back
    * to the identical bit pattern, so `sum(c_acctbal)` must survive to the
    * cent). The checksum over keys pins row identity, not just aggregates.
    */
  val f1 = Q(
    "f1_csv_roundtrip",
    """SELECT c_mktsegment, count(*) AS n,
      |  round(sum(c_acctbal), 2) AS acctbal_sum,
      |  sum(c_custkey)::BIGINT AS key_checksum
      |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
    roundTrip(Tables.load(s, dir, "customer"), "csv", Map("header" -> "true"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal")), 2).as("acctbal_sum"),
        sum(col("c_custkey")).as("key_checksum"))
  }

  /** f2: JSON-lines round-trip of the orders table — the landing format of
    * most event feeds. Dates serialize as ISO strings and must parse back
    * to the identical DATE; doubles take the same shortest-representation
    * path as CSV. Grouping by status and order year checks both.
    */
  val f2 = Q(
    "f2_json_roundtrip",
    """SELECT o_orderstatus, year(o_orderdate)::BIGINT AS o_year,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS price_sum,
      |  sum(o_orderkey)::BIGINT AS key_checksum
      |FROM orders GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    roundTrip(Tables.load(s, dir, "orders"), "json")
      .groupBy(col("o_orderstatus"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("price_sum"),
        sum(col("o_orderkey")).as("key_checksum"))
  }

  /** f3: ORC round-trip of lineitem — the other columnar lake format; the
    * read-back scan prunes to the four referenced columns (ReadSchema in
    * the plan) exactly as the parquet scans do, so the row certifies
    * columnar interchange keeps both values and scan-level pruning.
    */
  val f3 = Q(
    "f3_orc_roundtrip",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  sum(l_quantity)::BIGINT AS qty_sum,
      |  round(sum(l_extendedprice), 2) AS price_sum
      |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    roundTrip(Tables.load(s, dir, "lineitem"), "orc")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("qty_sum"),
        round(sum(col("l_extendedprice")), 2).as("price_sum"))
  }

  /** f4: Hive-style partitioned write + partition-PRUNED read-back — the
    * layout primitive a 100 TB lake lives on (orders partitioned by year;
    * at production scale the key would be (year, month) or ingest date).
    * The read-back filter binds to the partition column, so the scan's
    * `PartitionFilters` prunes to one directory and the other years are
    * never opened — the committed plan pins exactly that. The aggregate is
    * hash-compared against DuckDB filtering the UNPARTITIONED original, so
    * the row certifies that pruning loses nothing and the partition column
    * round-trips the directory encoding value-exactly.
    */
  val f4 = Q(
    "f4_partition_pruned_scan",
    """SELECT year(o_orderdate)::BIGINT AS o_year,
      |  month(o_orderdate)::BIGINT AS o_month, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS price_sum,
      |  sum(o_orderkey)::BIGINT AS key_checksum
      |FROM orders WHERE year(o_orderdate) = 1995
      |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val scratch = scratchDir("graft_fmt_partitioned_")
    Tables.load(s, dir, "orders")
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .write.partitionBy("o_year").mode("overwrite").parquet(scratch)
    s.read.parquet(scratch)
      .filter(col("o_year") === 1995L)
      .groupBy(col("o_year").cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("price_sum"),
        sum(col("o_orderkey")).as("key_checksum"))
  }

  /** f5: schema evolution across a lake's write history — the other layout
    * fact of a long-lived 100 TB table: files written BEFORE a column
    * existed sit next to files written after, and the reader must present
    * the union schema with nulls for the pre-evolution rows. The even-key
    * half of `orders` is written with the base schema, the odd-key half
    * with an added `o_orderpriority` column into the SAME directory;
    * `mergeSchema=true` reconciles the heterogeneous footers (exactly what
    * a metastore-less parquet lake does on every schema bump). The
    * aggregate groups on the evolved column with a sentinel for the
    * pre-evolution nulls, so the hash certifies both the union schema and
    * WHICH rows carry it — against DuckDB replaying the split on the
    * unevolved original.
    */
  val f5 = Q(
    "f5_schema_evolution_read",
    """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
      |    'PRE-EVOLUTION') AS prio,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS price_sum,
      |  sum(o_orderkey)::BIGINT AS key_checksum
      |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
    val scratch = scratchDir("graft_fmt_evolve_")
    val orders = Tables.load(s, dir, "orders")
    orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(scratch)
    orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("append").parquet(scratch)
    s.read.option("mergeSchema", "true").parquet(scratch)
      .groupBy(coalesce(col("o_orderpriority"), lit("PRE-EVOLUTION")).as("prio"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("price_sum"),
        sum(col("o_orderkey")).as("key_checksum"))
  }

  /** f6: DYNAMIC partition pruning — f4's pruning with the filter on the
    * OTHER side of a join, the shape every star-schema query at 100 TB
    * takes: the fact table is partitioned on the join key, the dimension
    * carries the selective predicate, and the years to scan are only known
    * at runtime after the dim filter runs. Spark plants a
    * `dynamicpruningexpression` subquery into the fact scan's
    * PartitionFilters (PlanShapeSpec pins it), so the fact directories for
    * filtered-out years are never listed or opened — without DPP this
    * would be a full-fact scan however selective the dim. The keep rule
    * (`year % 3 = 0`) lives in the dim's DATA (a `tag` column), not in any
    * literal the optimizer could fold over the fact, and the aggregate
    * hash-matches DuckDB applying the rule to the unpartitioned original.
    *
    * Production note pinned by the plan test: the dim predicate must be
    * COMPARISON-shaped (`tag = 0`) — Spark's `isLikelySelective` check
    * rejects a bare boolean column (`filter(col("keep"))`), silently
    * degrading to a full-fact scan. Measured here: that one predicate
    * shape is the difference between listing 3 directories and all of
    * them.
    */
  val f6 = Q(
    "f6_dynamic_partition_pruning",
    """SELECT year(o_orderdate)::BIGINT AS o_year, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS price_sum,
      |  sum(o_orderkey)::BIGINT AS key_checksum
      |FROM orders WHERE year(o_orderdate) % 3 = 0
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val scratch = scratchDir("graft_fmt_dpp_")
    val orders = Tables.load(s, dir, "orders")
    orders.withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year").mode("overwrite").parquet(scratch + "/fact")
    orders.select(year(col("o_orderdate")).as("dim_year")).distinct()
      .withColumn("tag", (col("dim_year") % 3).cast("int"))
      .write.mode("overwrite").parquet(scratch + "/dim")
    val fact = s.read.parquet(scratch + "/fact")
    val dim = s.read.parquet(scratch + "/dim").filter(col("tag") === 0)
    fact.join(broadcast(dim), fact("o_year") === dim("dim_year"))
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("price_sum"),
        sum(col("o_orderkey")).as("key_checksum"))
  }

  /** f7: XML round-trip of the supplier table — Spark 4 ships the XML data
    * source built in, and XML is still what ERP/B2B feeds land as. The
    * string column must survive element encoding byte-exactly, which the
    * checksum of portable content hashes pins (not just lengths — one
    * mangled character moves the sum). Doubles and keys take the same text
    * round-trip discipline as CSV; `rowTag` applies to both sides.
    */
  val f7 = Q(
    "f7_xml_roundtrip",
    s"""SELECT s_nationkey, count(*) AS n,
      |  round(sum(s_acctbal), 2) AS acctbal_sum,
      |  sum(s_suppkey)::BIGINT AS key_checksum,
      |  sum(${graft.core.PortableHash.duck("s_name")})::BIGINT AS name_checksum
      |FROM supplier GROUP BY 1""".stripMargin) { (s, dir) =>
    roundTrip(Tables.load(s, dir, "supplier"), "xml", Map("rowTag" -> "supplier"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("s_acctbal")), 2).as("acctbal_sum"),
        sum(col("s_suppkey")).as("key_checksum"),
        sum(expr(graft.core.PortableHash.spark("s_name"))).as("name_checksum"))
  }

  /** f8: raw TEXT-format round-trip — the lowest rung of the landing zone:
    * rows serialized to delimited lines with concat_ws, written with the
    * `text` source (one string column, no structure), read back as lines,
    * and re-parsed with split + casts. This is the classic
    * "logs-as-lines → typed lake" stage; the hash certifies the full
    * serialize → line file → parse pipeline re-types every value exactly
    * (dates via ISO string, doubles via shortest-representation text).
    *
    * NULL HANDLING: `concat_ws` silently SKIPS null inputs, which would
    * shift every later field on re-parse instead of round-tripping as
    * null. Each field is therefore sentinel-encoded —
    * `coalesce(cast(col AS string), '\\N')` on serialize, `nullif(_, '\\N')`
    * on parse — so field positions are stable regardless of null content
    * (the `\\N` convention PostgreSQL COPY / Hive LazySimpleSerDe use).
    * The null path is EXERCISED, not just guarded: o_orderpriority is
    * planted null on every o_orderkey % 7 == 0 row before serialization,
    * and the census prices the non-null count and a content checksum that
    * only agree with the oracle if every planted null survived the line
    * round-trip as a true null (count/sum skip nulls in both engines).
    */
  val f8 = Q(
    "f8_text_roundtrip",
    s"""SELECT o_orderstatus, year(o_orderdate)::BIGINT AS o_year,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS price_sum,
      |  sum(o_orderkey)::BIGINT AS key_checksum,
      |  count(CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END)::BIGINT AS prio_n,
      |  sum(CASE WHEN o_orderkey % 7 = 0 THEN NULL
      |        ELSE ${graft.core.PortableHash.duck("o_orderpriority")} END)::BIGINT AS prio_checksum
      |FROM orders GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val sentinel = "\\N"
    def enc(c: org.apache.spark.sql.Column) =
      coalesce(c.cast("string"), lit(sentinel))
    val lines = Tables.load(s, dir, "orders")
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_orderpriority")))
      .select(concat_ws("|",
        enc(col("o_orderkey")), enc(col("o_orderstatus")),
        enc(col("o_totalprice")), enc(col("o_orderdate")),
        enc(col("o_orderpriority"))).as("value"))
    roundTrip(lines, "text")
      .select(split(col("value"), "\\|").as("f"))
      .select(element_at(col("f"), 1).cast("long").as("o_orderkey"),
        element_at(col("f"), 2).as("o_orderstatus"),
        element_at(col("f"), 3).cast("double").as("o_totalprice"),
        element_at(col("f"), 4).cast("date").as("o_orderdate"),
        nullif(element_at(col("f"), 5), lit(sentinel)).as("o_orderpriority"))
      .groupBy(col("o_orderstatus"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("price_sum"),
        sum(col("o_orderkey")).as("key_checksum"),
        count(col("o_orderpriority")).as("prio_n"),
        sum(expr(graft.core.PortableHash.spark("o_orderpriority"))).as("prio_checksum"))
  }

  /** The Avro format identifier usable in THIS environment, resolved the
    * way Spark's own `DataSource.lookupDataSource` does:
    *
    *   1. a `DataSourceRegister` advertising short name `avro` (the real
    *      external `spark-avro` jar) → `"avro"`;
    *   2. otherwise, the `AvroFileFormat` class itself. Spark 4.1 ships
    *      the complete Avro reader/writer INSIDE spark-sql but omits the
    *      ServiceLoader registration, so the short name throws the
    *      "external data source module" policy error while the
    *      fully-qualified class name loads a fully functional format —
    *      verified by f9's oracle row in this container;
    *   3. neither class present → None, and [[f9]] fails with an
    *      actionable message instead of a provider-lookup stack trace
    *      (the Kafka guard pattern, StreamSources.kafkaAvailable,
    *      SURVEY §7.1).
    */
  def avroFormat: Option[String] = {
    import scala.jdk.CollectionConverters._
    val loader = Thread.currentThread().getContextClassLoader
    val registered = java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister], loader)
      .asScala.exists(r =>
        try r.shortName().equalsIgnoreCase("avro")
        catch { case _: Throwable => false })
    if (registered) Some("avro")
    else
      try {
        Class.forName("org.apache.spark.sql.avro.AvroFileFormat", false, loader)
        Some("org.apache.spark.sql.avro.AvroFileFormat")
      } catch { case _: ClassNotFoundException => None }
  }

  /** f9: Avro round-trip of the part table — the row-oriented interchange
    * format Kafka/Schema-Registry pipelines land (the reference deploys a
    * Schema Registry its code never uses, docker-compose.yml:47–81; this
    * is the batch half of that path, completing the format family:
    * columnar ORC f3, text CSV/JSON/XML/lines f1/f2/f7/f8, row-binary
    * Avro here). Avro's own round-trip hazards are all pinned: BIGINT and
    * INT survive the zig-zag varint encoding (key/size checksums), DOUBLE
    * survives the little-endian 8-byte encoding exactly (no text
    * round-trip at all — `price_sum` must match to the bit before
    * rounding), and strings survive UTF-8 length-prefixed encoding
    * (portable name checksum). Format resolution via [[avroFormat]].
    */
  val f9 = Q(
    "f9_avro_roundtrip",
    s"""SELECT p_brand, count(*) AS n,
      |  round(sum(p_retailprice), 2) AS price_sum,
      |  sum(p_partkey)::BIGINT AS key_checksum,
      |  sum(p_size)::BIGINT AS size_sum,
      |  sum(${graft.core.PortableHash.duck("p_name")})::BIGINT AS name_checksum
      |FROM part GROUP BY 1""".stripMargin) { (s, dir) =>
    val fmt = avroFormat.getOrElse(throw new IllegalStateException(
      "no Avro support on the classpath: need either the spark-avro module " +
        "(short name) or spark-sql's built-in org.apache.spark.sql.avro classes"))
    roundTrip(Tables.load(s, dir, "part"), fmt)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("p_retailprice")), 2).as("price_sum"),
        sum(col("p_partkey")).as("key_checksum"),
        sum(col("p_size")).cast("long").as("size_sum"),
        sum(expr(graft.core.PortableHash.spark("p_name"))).as("name_checksum"))
  }

  /** f10: `binaryFile` BLOB-DIRECTORY scan — the ingest shape of a real
    * media lake, where payloads arrive as millions of individual object
    * files, not rows in a table. The multimodal payloads (real BMP/WAV
    * containers, MultimodalOps.withPayloads) are written one FILE per item
    * from the executors (`foreachPartition` — the write never centralizes
    * on the driver), then read back with Spark's `binaryFile` source:
    * (path, length, content) rows, identity recovered from the file name,
    * modality sniffed from the content's magic bytes with m3's codegen
    * expressions. The census aggregate (items / bytes / id-checksum per
    * modality) is hash-compared against DuckDB pricing every container
    * from the fixture columns — so the row certifies the full
    * files-to-rows path: per-file write, directory listing, content
    * read-back byte-exactly, and filename identity.
    *
    * Scale shape: binaryFile packs many small files per task
    * (maxPartitionBytes-bound listing), content stays on the executor, and
    * the only shuffle is the 3-key census agg. At 100 TB the same plan
    * reads an object store prefix; the per-file write side is the
    * thumbnail/shard emitter every media pipeline already runs.
    */
  val f10 = Q(
    "f10_binaryfile_scan",
    """SELECT CASE WHEN doc_id % 6 = 0 THEN 'image'
      |       WHEN doc_id % 6 = 3 THEN 'image_png'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'binary' END AS modality,
      |  count(*) AS n_items,
      |  sum(CASE WHEN doc_id % 6 = 0
      |        THEN 54 + (((n_chars % 96 + 16) * 3 + 3) // 4) * 4 * (doc_id % 64 + 16)
      |       WHEN doc_id % 6 = 3
      |        THEN 57 + (((n_chars % 96 + 16) * 3 + 3) // 4) * 4 * (doc_id % 64 + 16)
      |       WHEN doc_id % 3 = 1 THEN 44 + (n_chars % 97 + 32) * (1 + doc_id % 2) * 2
      |       ELSE octet_length(encode(text)) END)::BIGINT AS total_bytes,
      |  sum(doc_id)::BIGINT AS id_checksum
      |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
    // SHARED-FILESYSTEM PRECONDITION: the blob directory is a
    // driver-resolved tmp path that executor closures write into — valid
    // because local mode shares one filesystem. On a real cluster this
    // path must be a shared store (object-store prefix / DFS dir); the
    // written-vs-listed census below fails FAST on a partial corpus
    // instead of letting the oracle hash catch a silently-wrong census.
    val scratch = scratchDir("graft_fmt_blobs_")
    // wipe stale blobs: deterministic names would otherwise silently mix a
    // previously-written corpus into this read-back
    Option(new java.io.File(scratch).listFiles)
      .foreach(_.foreach(f => { f.delete(); () }))
    import s.implicits._
    val written = s.sparkContext.longAccumulator("f10_blobs_written")
    graft.multimodal.MultimodalOps.withPayloads(s, dir)
      .as[(Long, Array[Byte])]
      .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
        it.foreach { case (id, p) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(scratch, f"doc_$id%09d.bin"), p)
          written.add(1L)
        }
      }
    val listed =
      Option(new java.io.File(scratch).listFiles).fold(0L)(_.count(_.getName.endsWith(".bin")).toLong)
    if (listed != written.value) throw new IllegalStateException(
      s"f10 blob read-back sees $listed files but executors wrote " +
        s"${written.value} - the blob directory is not shared between " +
        "driver and executors (use a shared store outside local mode)")
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(scratch)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        col("content"))
      .select(
        col("doc_id"),
        expr("CASE WHEN substring(content, 1, 2) = X'424D' THEN 'image' " +
          "WHEN substring(content, 1, 8) = X'89504E470D0A1A0A' THEN 'image_png' " +
          "WHEN substring(content, 1, 4) = X'52494646' AND substring(content, 9, 4) = X'57415645' THEN 'audio' " +
          "ELSE 'binary' END").as("modality"),
        length(col("content")).cast("long").as("n_bytes"))
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("doc_id")).as("id_checksum"))
  }

  /** f11: LAKE TIME TRAVEL — read-as-of-batch-N over the production sink's
    * layout ([[graft.streaming.LakeSink.readAsOf]]). The commit ledger plus
    * per-batch deterministic file names (`gb<id>-`) and compaction-horizon
    * stamps (`gc<B>-`) make a historical snapshot a pure LISTING FILTER:
    * no copied data, no manifest format. The fixture is laid down as six
    * id-interleaved batches with ONE compaction sweep after batch 3, so
    * the as-of-3 snapshot must be served from a mix of compacted rewrites
    * (gc3 — included, horizon <= 3) and must EXCLUDE the later gb4/gb5
    * appends sitting in the same leaves. The oracle is the census over
    * exactly the first four batches' rows (`event_id % 6 <= 3`): an
    * excluded-but-listed late file, a lost compacted row, or a horizon
    * mis-stamp each shift a (date, type) cell and break the hash. At
    * 100 TB the snapshot costs what every FS table read costs — one
    * listing per leaf — because the lineage lives in the NAMES.
    */
  val f11 = Q(
    "f11_lake_time_travel",
    """SELECT ts::DATE AS event_date, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM events WHERE event_id % 6 <= 3 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_asof_") { base =>
      val lakeDir = base.resolve("lake").toString
      // compactEvery=4 puts the one sweep after batch 3
      LakeFixture.layDown(events, 6, 0 until 6)(LakeFixture.fixtureSink(lakeDir, 4L))
      census(graft.streaming.LakeSink.readAsOf(s, lakeDir, 3L),
        col("event_date"), col("event_type"))
    }
  }

  /** f12: LAKE MERGE (copy-on-write upsert/delete —
    * [[graft.streaming.LakeSink.mergeInto]], the Delta `MERGE WHEN MATCHED
    * UPDATE / DELETE / WHEN NOT MATCHED INSERT` verb). The table is laid
    * down as four id-interleaved [[graft.streaming.LakeSink.appendBatch]]
    * commits (lake-allocated ids — the merged-table id discipline), then
    * ONE merge commits three change classes at once: every `id % 10 == 7`
    * row updated in place (value +1000, type `updated`), every
    * `id % 10 == 3` row deleted, and a shifted copy of every
    * `id % 10 == 2` row inserted under a fresh key. Only leaves holding
    * matched keys are rewritten (`gc<B>` lineage stamp, pre-merge state
    * retained under `_graft_history/` — time travel across the merge is
    * suite-certified); insert-only leaves take plain `gb<B>` appends. The
    * oracle rebuilds the merged relation set-algebraically, so a lost
    * delete, a doubled update, a dropped insert, or a leaf the rewrite
    * corrupted each shift a (date, type) census cell. At 100 TB the merge
    * reads exactly the source rows' own partitions (the partition-scoped
    * `ON t.key = s.key AND t.date = s.date` shape) — never the table.
    */
  val f12 = Q(
    "f12_lake_merge",
    """WITH merged AS (
      |  SELECT * FROM events WHERE event_id % 10 NOT IN (3, 7)
      |  UNION ALL
      |  SELECT event_id, ts, user_id, 'updated' AS event_type, value + 1000, props
      |  FROM events WHERE event_id % 10 = 7
      |  UNION ALL
      |  SELECT event_id + 10000000, ts, user_id, 'inserted', value * 2, props
      |  FROM events WHERE event_id % 10 = 2
      |)
      |SELECT ts::DATE AS event_date, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM merged GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_merge_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(s, lakeDir, events, 4, 0 until 4)
      val (updates, inserts, deletes) = LakeFixture.changeSet(events)
      graft.streaming.LakeSink.mergeInto(s, lakeDir, updates.unionByName(inserts),
        "event_id", deletes, targetFileBytes = LakeFixture.TargetFileBytes)
      census(s.read.parquet(lakeDir), col("event_date"), col("event_type"))
    }
  }

  /** f13: LAKE DATA SKIPPING (file-level zone maps —
    * [[graft.streaming.LakeSink.readPruned]], the Delta stats lever). The
    * table is laid down as four CONTIGUOUS event_id ranges (the natural
    * ingest-clustered shape: an append-only stream's ids arrive roughly
    * ordered), each commit recording per-file min/max from the parquet
    * FOOTERS it just wrote (`statsCols` — O(files) footer reads, no data
    * pass). The query reads the second id quartile: the zone maps prune
    * the other three quartiles' files BEFORE the scan is planned — a
    * `require` inside the query fails loudly if skipping stops skipping —
    * and the residual typed predicate still reaches the surviving files'
    * row groups (`PushedFilters`, suite-pinned). The oracle is the same
    * quartile census over the raw fixture: a wrongly-pruned file (rows
    * lost) or a stats off-by-one at the quartile boundary each shift a
    * census cell. At 100 TB this is the difference between a sidecar read
    * + interval check and millions of per-file footer opens.
    */
  val f13 = Q(
    "f13_lake_data_skipping",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
      |  sum(event_id)::BIGINT AS id_checksum
      |FROM events
      |WHERE event_id >= (SELECT (max(event_id)+1)//4 FROM events)
      |  AND event_id < (SELECT (max(event_id)+1)//2 FROM events)
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    // 2-row driver probe (min/max bound class): the quartile edges
    val m = events.agg(max(col("event_id"))).head.getLong(0) + 1L
    val (q1, q2) = (m / 4, m / 2)
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_skip_") { base =>
      val lakeDir = base.resolve("lake").toString
      (0 until 4).foreach { i =>
        graft.streaming.LakeSink.appendBatch(s, lakeDir,
          events.filter(col("event_id") >= lit(i * (m / 4)) &&
            (if (i == 3) lit(true) else col("event_id") < lit((i + 1) * (m / 4)))),
          commitId = Some(i.toLong), statsCols = Seq("event_id"))
      }
      val (pruned, report) = graft.streaming.LakeSink.readPruned(
        s, lakeDir, "event_id", BigDecimal(q1), BigDecimal(q2 - 1))
      require(report.scannedFiles < report.totalFiles,
        s"data skipping stopped skipping: $report — the zone maps are dead")
      census(pruned, col("event_type"))
    }
  }

  /** f14: LAKE CHANGE DATA FEED — the row-level consumption shape
    * [[graft.streaming.LakeSink.tailCommits]] refuses at a merge commit,
    * served properly ([[graft.streaming.LakeSink.tailChanges]], the Delta
    * CDF shape): append commits stream out as `insert` change rows by
    * lineage name; the merge commit's `delete` / `update_pre` /
    * `update_post` / `insert` rows come from the change record captured AT
    * MERGE TIME (`recordChanges = true` — pre-images are unrecoverable
    * after the rewrite, so recording is part of the commit, made
    * durable-or-absent by a tmp rename and kept across idempotent
    * retries). Same change classes as f12; the oracle rebuilds the full
    * feed set-algebraically and censuses by op — a missing pre-image, an
    * update double-counted as insert+delete, or an append row leaking the
    * merge's op each shift an op cell. At 100 TB the feed costs O(range's
    * leaves + churn), never a table diff.
    */
  val f14 = Q(
    "f14_lake_change_feed",
    """WITH chg AS (
      |  SELECT 'insert' AS op, event_id, value FROM events
      |  UNION ALL
      |  SELECT 'update_pre', event_id, value FROM events WHERE event_id % 10 = 7
      |  UNION ALL
      |  SELECT 'update_post', event_id, value + 1000 FROM events WHERE event_id % 10 = 7
      |  UNION ALL
      |  SELECT 'delete', event_id, value FROM events WHERE event_id % 10 = 3
      |  UNION ALL
      |  SELECT 'insert', event_id + 10000000, value * 2 FROM events WHERE event_id % 10 = 2
      |)
      |SELECT op, count(*) AS n, round(sum(value), 2) AS total_value,
      |  sum(event_id)::BIGINT AS id_checksum
      |FROM chg GROUP BY 1""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_cdf_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(s, lakeDir, events, 4, 0 until 4)
      val (updates, inserts, deletes) = LakeFixture.changeSet(events)
      val stats = graft.streaming.LakeSink.mergeInto(s, lakeDir,
        updates.unionByName(inserts), "event_id", deletes,
        targetFileBytes = LakeFixture.TargetFileBytes, recordChanges = true)
      census(graft.streaming.LakeSink.tailChanges(s, lakeDir, -1L, stats.commitId),
        col("_op").as("op"))
    }
  }

  /** f15: LAKE SCHEMA EVOLUTION on the write path — f5 certifies batch
    * `mergeSchema` over a plain directory; this row certifies the LAKE's
    * registry discipline ([[graft.streaming.LakeSink.readLake]] +
    * `_graft_commits/_schema.<B>`, the Delta schema-in-log shape): commits
    * 0-1 land with the base schema, commits 2-3 WIDEN it with a `quality`
    * column — the widening registers a versioned union schema and every
    * reader DECLARES it (one small-file read; `mergeSchema` at 100 TB is a
    * footer read of every file), so pre-widening files null-fill and
    * single leaves holding files from both sides read correctly. Time
    * travel picks the schema AS OF its snapshot and narrowing/retyping
    * appends die loudly (suite-certified). The oracle derives the same
    * quality bucketing from the commit rule (`id % 4 >= 2` rows carry
    * `id % 5`, the rest null → -1): a reader that silently inferred ONE
    * footer's schema would zero out the quality buckets (or the legacy
    * bucket) and break the hash.
    */
  val f15 = Q(
    "f15_lake_schema_evolution",
    """SELECT CASE WHEN event_id % 4 >= 2 THEN event_id % 5 ELSE -1 END AS quality,
      |  count(*) AS n, round(sum(value), 2) AS total_value,
      |  sum(event_id)::BIGINT AS id_checksum
      |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_evo_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(s, lakeDir, events, 4, 0 until 2)
      LakeFixture.layDown(s, lakeDir,
        events.withColumn("quality", pmod(col("event_id"), lit(5)).cast("int")), 4, 2 until 4)
      census(graft.streaming.LakeSink.readLake(s, lakeDir),
        coalesce(col("quality").cast("long"), lit(-1L)).as("quality"))
    }
  }

  /** f16: LAKE DELETION VECTORS (merge-on-read delete —
    * [[graft.streaming.LakeSink.deleteVectors]], the Delta DV shape from FS
    * primitives). f12 certifies the copy-on-write delete; this row
    * certifies the O(churn) alternative: the same `id % 10 == 3` delete
    * class lands as a `_graft_dv/<B>/` positional sidecar (`(leaf, file,
    * row_index)` off the scan's `_metadata` struct) committed through the
    * atomic marker exchange — and the query REQUIRES the data layout to be
    * byte-identical afterwards (no leaf rewritten, no file moved): at
    * 100 TB that is a few-KB write where the merge re-shuffles every
    * touched leaf. Read-side, [[graft.streaming.LakeSink.readLake]]
    * anti-joins the committed store; a lost DV entry (row resurrects) or an
    * over-applied one (row vanishes) shifts a (date, type) census cell.
    * Compaction later MATERIALIZES the sidecar into its rewrite and vacuum
    * reclaims it once provably dead (suite-certified, LakeDvSpec).
    */
  val f16 = Q(
    "f16_lake_deletion_vectors",
    """SELECT ts::DATE AS event_date, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM events WHERE event_id % 10 <> 3 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_dv_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(s, lakeDir, events, 4, 0 until 4)
      def layout() = LakeFixture.leafFiles(s, lakeDir, _.endsWith(".parquet"))
      val before = layout()
      val deletes = events.filter(pmod(col("event_id"), lit(10)) === 3)
        .select("event_id", "ts")
      val stats = graft.streaming.LakeSink.deleteVectors(
        s, lakeDir, deletes, "event_id")
      require(stats.deletedRows > 0, "fixture must delete rows")
      require(layout() == before,
        "merge-on-read stopped merge-on-reading: the delete moved data files")
      census(graft.streaming.LakeSink.readLake(s, lakeDir),
        col("event_date"), col("event_type"))
    }
  }

  /** f17: LAKE Z-ORDER SKIPPING (OPTIMIZE ZORDER —
    * `compactPartitions(zorderBy)`, [[graft.core.Layout.zorderParquet]]'s
    * Morton interleave inside each leaf rewrite). f13 certifies 1-D data
    * skipping over naturally id-clustered ingest; this row certifies the
    * 2-D layout for a table whose scan predicates ALTERNATE between two
    * independent dimensions: the fixture's `event_id` is time-correlated
    * (each date leaf is a contiguous id span) while `user_id` is uniform
    * inside every leaf, so no ingest order — and no 1-D clustering — can
    * make a user-range scan skip anything. After one z-ordered sweep the
    * files tile the (event_id, user_id) plane per leaf and BOTH range
    * censuses below run through [[graft.streaming.LakeSink.readPruned]]
    * with in-query `require(scanned < total)` guards — either dimension
    * losing its skipping fails the gate, and the suite pins the sharper
    * claim (1-D clustering leaves the other column unprunable,
    * LakeStatsSpec). At 100 TB this is the Delta OPTIMIZE ZORDER lever:
    * one extra single-pass rewrite buys file-level pruning on the second
    * dimension forever.
    */
  val f17 = Q(
    "f17_lake_zorder_skipping",
    """WITH b AS (
      |  SELECT (max(event_id)+1)//4 AS q1, (max(event_id)+1)//2 AS q2,
      |    min(user_id) + (max(user_id)-min(user_id)+1)//4 AS u1,
      |    min(user_id) + (max(user_id)-min(user_id)+1)//2 AS u2
      |  FROM events)
      |SELECT 'by_event_id' AS dim, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM events, b WHERE event_id >= b.q1 AND event_id < b.q2 GROUP BY 1, 2
      |UNION ALL
      |SELECT 'by_user_id', event_type, count(*),
      |  round(sum(value), 2), sum(event_id)::BIGINT
      |FROM events, b WHERE user_id >= b.u1 AND user_id < b.u2 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    // 2-row driver probe (min/max bound class): the two dims' range edges
    val bounds = events.agg(max(col("event_id")), min(col("user_id")),
      max(col("user_id"))).head
    val m = bounds.getLong(0) + 1L
    val (q1, q2) = (m / 4, m / 2)
    val (umin, umax) = (bounds.getLong(1), bounds.getLong(2))
    val (u1, u2) = (umin + (umax - umin + 1) / 4, umin + (umax - umin + 1) / 2)
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_zorder_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(s, lakeDir, events, 4, 0 until 4)
      graft.streaming.LakeSink.compactPartitions(s, lakeDir,
        targetFileBytes = 8L << 10, minFiles = 2,
        statsCols = Seq("event_id", "user_id"),
        zorderBy = Seq("event_id", "user_id"))
      def rangeCensus(dim: String, statsCol: String, lo: Long, hi: Long) = {
        val (pruned, report) = graft.streaming.LakeSink.readPruned(
          s, lakeDir, statsCol, BigDecimal(lo), BigDecimal(hi))
        require(report.scannedFiles < report.totalFiles,
          s"z-order skipping stopped skipping on $statsCol: $report")
        census(pruned, lit(dim).as("dim"), col("event_type"))
      }
      rangeCensus("by_event_id", "event_id", q1, q2 - 1)
        .unionByName(rangeCensus("by_user_id", "user_id", u1, u2 - 1))
    }
  }

  /** f18: LAKE GDPR PURGE (physical erasure —
    * [[graft.streaming.LakeSink.purgeKeys]]), the verb that completes the
    * delete ladder f12 (copy-on-write) and f16 (merge-on-read) start: every
    * row of the purged `user_id`s leaves the LIVE view (no-retention
    * gc-stamped rewrites of exactly the touched leaves), the RETAINED
    * HISTORY (generation-leaves holding the key are destroyed — the
    * in-query guard proves time travel into the erased window now fails
    * LOUDLY instead of resurrecting or part-serving), and the CHANGE FEED
    * (the merge's recorded pre/post images are rewritten; a second guard
    * proves the feed has forgotten the purged users while still serving
    * the merge commit). The fixture: four appends, one RECORDED merge
    * (f12's change classes — creating both history generations and a
    * change record that carry the keys), then one purge of `user_id % 25
    * == 3`. The oracle rebuilds the merged relation minus the purged
    * users; a row surviving in any censused store shifts a (date, type)
    * cell. At 100 TB the find-matches pass is a full-table scan BY
    * CONSTRUCTION (a data subject's rows live anywhere) — the honest,
    * documented GDPR cost; everything after is O(touched leaves + history
    * + churn).
    */
  val f18 = Q(
    "f18_lake_gdpr_purge",
    """WITH merged AS (
      |  SELECT event_id, ts, user_id, event_type, value FROM events
      |  WHERE event_id % 10 NOT IN (3, 7)
      |  UNION ALL
      |  SELECT event_id, ts, user_id, 'updated', value + 1000 FROM events
      |  WHERE event_id % 10 = 7
      |  UNION ALL
      |  SELECT event_id + 10000000, ts, user_id, 'inserted', value * 2 FROM events
      |  WHERE event_id % 10 = 2
      |)
      |SELECT ts::DATE AS event_date, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM merged WHERE user_id % 25 <> 3 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_purge_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(s, lakeDir, events, 4, 0 until 4)
      val (updates, inserts, deletes) = LakeFixture.changeSet(events)
      val merged = graft.streaming.LakeSink.mergeInto(s, lakeDir,
        updates.unionByName(inserts), "event_id", deletes,
        targetFileBytes = LakeFixture.TargetFileBytes, recordChanges = true)
      val stats = graft.streaming.LakeSink.purgeKeys(s, lakeDir,
        events.filter(pmod(col("user_id"), lit(25)) === 3).select("user_id"),
        "user_id", targetFileBytes = LakeFixture.TargetFileBytes)
      require(stats.purgedRows > 0 && stats.historyLeavesDropped > 0 &&
        stats.cdcRecordsRewritten > 0, s"purge fixture drift: $stats")
      // time travel into the erased window must fail LOUDLY, never resurrect
      val preSnapshotLost =
        try { graft.streaming.LakeSink.readAsOf(s, lakeDir, merged.commitId - 1).count(); false }
        catch { case e: IllegalStateException => e.getMessage.contains("time travel") }
      require(preSnapshotLost, "pre-purge snapshot served after history erasure")
      // the change feed must have forgotten the purged users, not the commit
      require(graft.streaming.LakeSink
        .tailChanges(s, lakeDir, merged.commitId - 1, merged.commitId)
        .filter(pmod(col("user_id"), lit(25)) === 3).isEmpty,
        "purged keys survived in the change feed")
      census(graft.streaming.LakeSink.readLake(s, lakeDir),
        col("event_date"), col("event_type"))
    }
  }

  /** f19: WRITE-TIME EXPECTATIONS — the data-quality gate
    * ([[graft.streaming.LakeSink.appendWithExpectations]], the DLT
    * expectations / Delta CHECK-constraint verb in quarantine form). Four
    * appends flow through two rules (`value_cap`: value <= 300;
    * `known_type`: event_type <> 'error'); passing rows commit, violators
    * land under `_graft_quarantine/b<id>` tagged with the csv of failed
    * rules. The census below reads BOTH sides — live by event_type,
    * quarantine by its `_violations` disposition — so a row leaking into
    * the lake, vanishing entirely, or blaming the wrong rule each shifts a
    * cell. In-query guards pin the conservation law (live + quarantine =
    * input) and that the live lake holds zero violators. At 100 TB the
    * gate is one extra projection per micro-batch (both filters push to
    * the same scan) and the quarantine is O(rejects) — the poison-row
    * audit trail a silent drop never leaves.
    */
  val f19 = Q(
    "f19_lake_expectations",
    """WITH d AS (
      |  SELECT *, concat_ws(',',
      |    CASE WHEN value <= 300 THEN NULL ELSE 'value_cap' END,
      |    CASE WHEN event_type <> 'error' THEN NULL ELSE 'known_type' END) AS viol
      |  FROM events)
      |SELECT CASE WHEN viol = '' THEN 'live' ELSE viol END AS disposition,
      |  event_type, count(*) AS n, round(sum(value), 2) AS total_value,
      |  sum(event_id)::BIGINT AS id_checksum
      |FROM d GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val rules = Seq(
      "value_cap" -> "value <= 300",
      "known_type" -> "event_type <> 'error'")
    val leakObs = org.apache.spark.sql.Observation()
    val census = graft.streaming.ReplayHarness.pinnedScratch(s, "graft_expect_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(events, 4, 0 until 4) { (slice, i) =>
        graft.streaming.LakeSink.appendWithExpectations(s, lakeDir, slice, rules,
          commitId = Some(i)): Unit
      }
      val live = graft.streaming.LakeSink.readLake(s, lakeDir)
      val quarantined = graft.streaming.LakeSink.readQuarantine(s, lakeDir)
      // conservation + gate guards: nothing lost, nothing leaked. Both ride
      // passes the query already makes instead of the three r16 standalone
      // jobs (live.count + quarantined.count + live-leak filter): the leak
      // certificate is an observed metric on the live census scan, and
      // conservation compares the census's own n column against one cheap
      // count of the input (guide §1.2 — don't compute things twice).
      val liveCensus = LakeFixture.census(live
        .observe(leakObs, coalesce(sum(when(
          col("value") > 300 || col("event_type") === "error", 1L).otherwise(0L)),
          lit(0L)).as("leaked")),
        lit("live").as("disposition"), col("event_type"))
      liveCensus.unionByName(LakeFixture.census(quarantined,
        col("_violations").as("disposition"), col("event_type")))
    }
    require(census.collect().map(_.getAs[Long]("n")).sum == events.count(),
      "expectations gate lost or duplicated rows")
    require(leakObs.get.get("leaked").contains(0L),
      "violating rows leaked into the live lake")
    census
  }

  /** f20: LAKE RESTORE — roll the table back to a snapshot AS A NEW
    * COMMIT ([[graft.streaming.LakeSink.restoreTo]], the Delta
    * `RESTORE TABLE ... TO VERSION AS OF` verb). The fixture drives the
    * full bad-deploy arc: three good appends (0–2), then a wrong MERGE
    * (3), a wrong DELETION-VECTOR delete (4 — logical damage, no file
    * moved: the restore must catch it from the DV targets manifest, not
    * the listing), and a wrong BACKFILL onto brand-new date leaves (5 —
    * exercises wholesale leaf retirement). `restoreTo(2)` lands as commit
    * 6 — rewriting only damaged leaves, retiring the backfill leaves —
    * and ingestion continues with the last quartile as commit 7. The
    * oracle is the PLAIN events census: any residue of the rolled-back
    * era (an updated value, a missing DV'd row, a +10M inserted id, a
    * backfill date) shifts a cell. In-query guards pin the history side:
    * every pre-restore version stays time-travelable AFTER the restore
    * (including the retired backfill leaves, served history-only), and
    * restore cost is O(changed leaves) by construction.
    */
  val f20 = Q(
    "f20_lake_restore",
    """SELECT ts::DATE AS event_date, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val sink = graft.streaming.LakeSink
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_restore_") { base =>
      val lakeDir = base.resolve("lake").toString
      LakeFixture.layDown(s, lakeDir, events, 4, 0 until 3)
      val goodCount = sink.readLake(s, lakeDir).count()
      // the bad era: merge (3), DV delete (4), backfill onto new dates (5)
      val present = pmod(col("event_id"), lit(4)) < 3
      val (updates, inserts, deletes) = LakeFixture.changeSet(events, present)
      val merged = sink.mergeInto(s, lakeDir, updates.unionByName(inserts), "event_id",
        deletes, targetFileBytes = LakeFixture.TargetFileBytes)
      require(merged.commitId == 3L, s"fixture drift: merge at ${merged.commitId}")
      val dv = sink.deleteVectors(s, lakeDir,
        events.filter(present && pmod(col("event_id"), lit(10)) === 9)
          .select("event_id", "ts"),
        "event_id")
      require(dv.commitId == 4L, s"fixture drift: DV delete at ${dv.commitId}")
      sink.appendBatch(s, lakeDir,
        events.filter(pmod(col("event_id"), lit(10)) === 5)
          .withColumn("event_id", col("event_id") + 20000000L)
          .withColumn("ts", col("ts") + expr("INTERVAL 3000 DAYS")),
        commitId = Some(5L))
      val damagedCount = sink.readLake(s, lakeDir).count()

      val stats = sink.restoreTo(s, lakeDir, asOf = 2L)
      require(stats.commitId == 6L && stats.rewrittenLeaves.nonEmpty &&
        stats.retiredLeaves.nonEmpty, s"restore fixture drift: $stats")
      // the live view IS the snapshot again
      require(sink.readLake(s, lakeDir).count() == goodCount,
        "restore did not reproduce the snapshot row count")
      // history preserved THROUGH the restore: the damaged era still serves
      // (5 includes the retired backfill leaves — history-only resolution)
      require(sink.readAsOf(s, lakeDir, 5L).count() == damagedCount,
        "pre-restore version lost after restore")
      require(sink.readAsOf(s, lakeDir, 2L).count() == goodCount,
        "snapshot 2 drifted after restore")
      // ingestion continues on the restored timeline
      sink.appendBatch(s, lakeDir,
        events.filter(pmod(col("event_id"), lit(4)) === 3), commitId = Some(7L))
      census(sink.readLake(s, lakeDir), col("event_date"), col("event_type"))
    }
  }

  /** f21: SHALLOW CLONE with leaf-level copy-on-write
    * ([[graft.streaming.LakeSink.cloneTable]]/[[graft.streaming.LakeSink.cloneMerge]],
    * the Delta `SHALLOW CLONE` verb) — branch production data for
    * dev/test WITHOUT copying a byte: the clone is a pin file plus its
    * own ledger; reads overlay local writes over the pinned source
    * snapshot. The fixture exercises every overlay path at once: the
    * source DIVERGES after the pin (an append the clone must never see),
    * the clone takes a local append (union overlay on unshadowed
    * leaves), and a half-scoped merge CoWs exactly the touched leaves
    * (shadow overlay) while later dates keep serving source+local union
    * — so the final read mixes all three modes and any leak (source
    * edit visible, clone edit reflected back, CoW double-serving or
    * dropping rows) shifts a cell. In-query guards pin the zero-copy
    * claims: the source's data files are BYTE-UNTOUCHED by every clone
    * write, and the source census still includes its post-pin append. At
    * 100 TB: clone cost is one small file; the first merge on a branched
    * leaf pays that leaf's materialization — Delta's exact CoW bill
    * (with Delta's exact caveat, documented: vacuuming the source
    * breaks the clone's pinned reads loudly).
    */
  val f21 = Q(
    "f21_lake_shallow_clone",
    """WITH b AS (SELECT (max(event_id)+1)//2 AS h FROM events),
      |cl AS (
      |  SELECT event_id, ts, event_type, value FROM events, b
      |  WHERE event_id % 4 < 3 AND NOT (event_id < b.h AND event_id % 10 IN (3, 7))
      |  UNION ALL
      |  SELECT event_id, ts, 'updated', value + 1000 FROM events, b
      |  WHERE event_id % 4 < 3 AND event_id < b.h AND event_id % 10 = 7
      |  UNION ALL
      |  SELECT event_id + 10000000, ts, 'cloneonly', value * 2 FROM events
      |  WHERE event_id % 4 = 3)
      |SELECT 'clone' AS tbl, ts::DATE AS event_date, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM cl GROUP BY 1, 2, 3
      |UNION ALL
      |SELECT 'source', ts::DATE, event_type, count(*),
      |  round(sum(value), 2), sum(event_id)::BIGINT
      |FROM events GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val sink = graft.streaming.LakeSink
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_clone_") { base =>
      val src = base.resolve("source").toString
      val cln = base.resolve("clone").toString
      LakeFixture.layDown(s, src, events, 4, 0 until 3)
      require(sink.cloneTable(s, src, cln) == 2L, "clone pinned at wrong head")
      // the source diverges AFTER the pin — invisible to the clone
      LakeFixture.layDown(s, src, events, 4, 3 until 4)
      val srcBefore = LakeFixture.leafFiles(s, src)
      // clone-local append: union overlay, no CoW
      sink.appendBatch(s, cln,
        events.filter(pmod(col("event_id"), lit(4)) === 3)
          .withColumn("event_id", col("event_id") + 10000000L)
          .withColumn("event_type", lit("cloneonly"))
          .withColumn("value", col("value") * 2.0),
        commitId = Some(0L))
      // half-scoped merge: CoW + shadow exactly the early-date leaves
      val h = (events.agg(max(col("event_id"))).head.getLong(0) + 1) / 2
      val early = pmod(col("event_id"), lit(4)) < 3 && col("event_id") < h
      val (updates, _, deletes) = LakeFixture.changeSet(events, early)
      sink.cloneMerge(s, cln, updates, "event_id", deletes,
        targetFileBytes = LakeFixture.TargetFileBytes)
      // zero-copy claim: every clone write left the source byte-untouched
      require(LakeFixture.leafFiles(s, src) == srcBefore, "a clone write touched the source")
      def tagged(tag: String, lake: String) =
        census(sink.readLake(s, lake), lit(tag).as("tbl"), col("event_date"), col("event_type"))
      tagged("clone", cln).unionByName(tagged("source", src))
    }
  }

  /** f22: OPTIMISTIC MULTI-WRITER CONCURRENCY
    * ([[graft.streaming.LakeSink.appendBatchOcc]]) — the Delta-style
    * commit protocol exercised as a full arc: one table, three writers.
    * A merge job steals the ingest tail's allocated commit id mid-flight
    * (the fault injector runs it between the tail's file placement and
    * its marker attempt — the exact race the atomic exchange used to
    * answer by killing the loser); the tail validates leaf-disjointness
    * against the winner's marker, renames its lineage forward, and
    * commits at the next id; a third OCC writer then backfills with a
    * dedup key. Census of the final table proves no writer lost rows and
    * the merge's row-level effects survived the interleave. Writers are
    * leaf-disjoint by construction (the tail/backfill shift event time by
    * 1/2 years), which is exactly the contract: overlapping writers die.
    */
  val f22 = Q(
    "f22_lake_occ_writers",
    """WITH base AS (SELECT * FROM events WHERE event_id % 3 = 0),
      |merged AS (
      |  SELECT event_id, ts,
      |    CASE WHEN event_id % 10 = 7 THEN 'updated' ELSE event_type END AS event_type,
      |    CASE WHEN event_id % 10 = 7 THEN value + 1000 ELSE value END AS value
      |  FROM base WHERE event_id % 10 <> 3),
      |tail AS (
      |  SELECT event_id, ts + INTERVAL 365 DAY AS ts, 'tail' AS event_type, value
      |  FROM events WHERE event_id % 3 = 1),
      |bf AS (
      |  SELECT event_id, ts + INTERVAL 730 DAY AS ts, 'backfill' AS event_type, value
      |  FROM events WHERE event_id % 3 = 2),
      |allr AS (SELECT event_id, ts, event_type, value FROM merged
      |  UNION ALL SELECT event_id, ts, event_type, value FROM tail
      |  UNION ALL SELECT event_id, ts, event_type, value FROM bf)
      |SELECT ts::DATE AS event_date, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value, sum(event_id)::BIGINT AS id_checksum
      |FROM allr GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val events = Tables.load(s, dir, "events")
    val sink = graft.streaming.LakeSink
    graft.streaming.ReplayHarness.pinnedScratch(s, "graft_occ_") { base =>
      val lake = base.resolve("t").toString
      sink.appendBatch(s, lake,
        events.filter(pmod(col("event_id"), lit(3)) === 0), commitId = Some(0L))
      // the deployment's standing epoch, handed to the merge job so no
      // writer bumps the fence out from under the others
      val epoch = sink.claimWriterEpoch(s, lake)
      val tailRows = events.filter(pmod(col("event_id"), lit(3)) === 1)
        .withColumn("ts", expr("ts + INTERVAL 365 DAYS"))
        .withColumn("event_type", lit("tail"))
      val tailId = sink.appendBatchOcc(s, lake, tailRows, writerId = "tail",
        faultInjector = p => if (p == "placed") {
          val (updates, _, deletes) =
            LakeFixture.changeSet(events, pmod(col("event_id"), lit(3)) === 0)
          val m = sink.mergeInto(s, lake, updates, "event_id", deletes,
            fenceEpoch = Some(epoch))
          require(m.commitId == 1L, s"merge expected commit 1, got ${m.commitId}")
        })
      require(tailId == 2L, s"OCC tail expected commit 2, got $tailId")
      val bfId = sink.appendBatchOcc(s, lake,
        events.filter(pmod(col("event_id"), lit(3)) === 2)
          .withColumn("ts", expr("ts + INTERVAL 730 DAYS"))
          .withColumn("event_type", lit("backfill")),
        writerId = "backfill", dedupKey = Some("bf1"))
      require(bfId == 3L, s"OCC backfill expected commit 3, got $bfId")
      census(sink.readLake(s, lake), col("event_date"), col("event_type"))
    }
  }

  val all: Seq[Q] = Seq(f1, f2, f3, f4, f5, f6, f7, f8, f9, f10, f11, f12, f13,
    f14, f15, f16, f17, f18, f19, f20, f21, f22)
}
