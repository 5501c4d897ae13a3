package graft.catalog

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived S3-surface tables (FIXTURES.md §1: objects/blobs/buckets) from the
  * driver's `lineitem`, with exact DuckDB CTE equivalents.
  *
  * Shape choices mirror the reference structures (`core/src/structs/blob.rs`):
  * content-addressed hashes shared by many object versions (here: md5 of a
  * small partkey residue → real dedup), delete markers, `ws-` workspace
  * buckets excluded from search (`search_buckets.rs:88,144`), ULID-like
  * sortable version ids.
  */
object ObjectTables {

  /** md5 hex digests of "0".."99" — the whole domain of the fixture hash
    * column (`md5(CAST(x%100 AS VARCHAR))`). The digest of a 100-value
    * residue is a pure table lookup; evaluating MessageDigest per row was
    * ~1 µs × corpus on EVERY objects/dht derivation (the dominant CPU of
    * the cat7 scan stage — r13 optimization, guide §1.2 step 2). Value
    * identity with `md5()` over the full domain is pinned in
    * ObjectTablesSpec; the DuckDB oracles keep computing real md5. */
  private[graft] val Md5Mod100: Seq[String] = (0 until 100).map { i =>
    java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** `md5(CAST(residue AS STRING))` for a residue in 0..99, as a
    * constant-array lookup (codegen: one array access per row). A residue
    * outside 0..99 raises instead of reading a wrong but real-looking
    * digest (`element_at` reads negative indices from the array end);
    * a null residue gives null, as `md5` does. */
  private[graft] def md5Mod100(residue: Column): Column =
    when(residue < 0 || residue > 99, raise_error(concat(
        lit("md5Mod100: residue out of 0..99: "), residue.cast("string"))))
      .otherwise(element_at(typedLit(Md5Mod100), residue.cast("int") + 1))

  /** objects(bucket, key, version_ord, version_ulid, is_delete_marker,
    * hash, size, created_at_ms) — one version per lineitem row. */
  /** [[objects]] with the lineitem scan fanned out first (guide §2.5;
    * identity at production scale — see [[Tables.fanOut]]). For consumers
    * that traverse the WHOLE derivation (usage rebuild, DRS resolution,
    * the versions-store build): the two string builds per version run
    * cluster-wide instead of in the scan's single row-bearing task.
    * Prefix/bucket-scan consumers (cat1/cat2's listings) stay on the plain
    * [[objects]] — their selective filters beat the exchange. */
  def objectsFanned(spark: SparkSession, dir: String): DataFrame =
    objectsOf(Tables.fanOut(spark, s"$dir/lineitem.parquet",
      Tables.lineitem(spark, dir), "l_orderkey"))

  def objects(spark: SparkSession, dir: String): DataFrame =
    objectsOf(Tables.lineitem(spark, dir))

  private def objectsOf(l: DataFrame): DataFrame = {
    val bucket = when(col("l_suppkey") % 5 === 4,
      concat(lit("ws-tmp-"), (col("l_suppkey") % 4).cast("string")))
      .otherwise(concat(lit("bkt-"), (col("l_suppkey") % 4).cast("string")))
    val key = concat(lit("data/"), col("l_returnflag"),
      lit("/f"), (col("l_partkey") % 40).cast("string"),
      lit("/o"), (col("l_orderkey") % 500).cast("string"), lit(".bin"))
    val versionOrd = col("l_orderkey") * 10 + col("l_linenumber")
    l.select(
      bucket.as("bucket"),
      key.as("key"),
      versionOrd.as("version_ord"),
      lpad(versionOrd.cast("string"), 12, "0").as("version_ulid"),
      ((col("l_orderkey") + col("l_linenumber")) % 53 === 0).as("is_delete_marker"),
      md5Mod100(col("l_partkey") % 100).as("hash"),
      ((col("l_partkey") % 100) * 1000 + 17).cast("long").as("size"),
      (lit(1700000000000L) + versionOrd).as("created_at_ms"))
  }

  val objectsCte: String =
    """objects AS (
      |  SELECT
      |    CASE WHEN l_suppkey%5=4 THEN 'ws-tmp-'||(l_suppkey%4)
      |         ELSE 'bkt-'||(l_suppkey%4) END AS bucket,
      |    'data/'||l_returnflag||'/f'||(l_partkey%40)||'/o'||(l_orderkey%500)||'.bin' AS key,
      |    l_orderkey*10 + l_linenumber AS version_ord,
      |    lpad(CAST(l_orderkey*10 + l_linenumber AS VARCHAR), 12, '0') AS version_ulid,
      |    (l_orderkey + l_linenumber)%53 = 0 AS is_delete_marker,
      |    md5(CAST(l_partkey%100 AS VARCHAR)) AS hash,
      |    CAST((l_partkey%100)*1000 + 17 AS BIGINT) AS size,
      |    1700000000000 + l_orderkey*10 + l_linenumber AS created_at_ms
      |  FROM lineitem
      |)""".stripMargin

  /** blobs(blake3, backend, size, staging, partial) — one row per distinct
    * content hash (content-addressed store, `blob.rs:253-366`). The fixture
    * key is md5-derived ONLY so the DuckDB oracle can rebuild the same rows;
    * real ingest keys on [[graft.functions.Blake3]] (see
    * `Hashes.multiDigest`, validated by the h3 KAT gate). */
  def blobs(spark: SparkSession, dir: String): DataFrame =
    spark.range(0, 100).select(
      md5(col("id").cast("string")).as("blake3"),
      when(col("id") % 2 === 0, "fs").otherwise("s3").as("backend"),
      (col("id") * 1000 + 17).as("size"),
      (col("id") % 31 === 0).as("staging"),
      (col("id") % 37 === 0).as("partial"))

  val blobsCte: String =
    """blobs AS (
      |  SELECT md5(CAST(r AS VARCHAR)) AS blake3,
      |         CASE WHEN r%2=0 THEN 'fs' ELSE 's3' END AS backend,
      |         CAST(r*1000+17 AS BIGINT) AS size,
      |         r%31=0 AS staging, r%37=0 AS partial
      |  FROM range(0,100) t(r)
      |)""".stripMargin

  /** buckets(bucket, group_id) — catalog of non-workspace buckets. */
  def buckets(spark: SparkSession, dir: String): DataFrame =
    spark.range(0, 4).select(
      concat(lit("bkt-"), col("id").cast("string")).as("bucket"),
      concat(lit("grp-"), (col("id") % 3).cast("string")).as("group_id"))

  val bucketsCte: String =
    """buckets AS (
      |  SELECT 'bkt-'||r AS bucket, 'grp-'||(r%3) AS group_id FROM range(0,4) t(r)
      |)""".stripMargin

  /** uploads(upload_id, bucket, key, status) — one multipart upload per
    * order (`core/src/structs` MultipartUpload; status ∈ Open | Completed |
    * Aborted). upload_id is zero-padded so string order == numeric order,
    * standing in for the reference's ULID ordering. */
  def uploads(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(
      lpad(col("o_orderkey").cast("string"), 12, "0").as("upload_id"),
      concat(lit("bkt-"), (col("o_custkey") % 4).cast("string")).as("bucket"),
      concat(lit("mp/d"), (col("o_custkey") % 10).cast("string"),
        lit("/u"), (col("o_orderkey") % 200).cast("string"), lit(".bin")).as("key"),
      when(col("o_orderkey") % 7 === 0, "Completed")
        .when(col("o_orderkey") % 7 === 1, "Aborted")
        .otherwise("Open").as("status"))
  }

  val uploadsCte: String =
    """uploads AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS upload_id,
      |         'bkt-'||(o_custkey%4) AS bucket,
      |         'mp/d'||(o_custkey%10)||'/u'||(o_orderkey%200)||'.bin' AS key,
      |         CASE WHEN o_orderkey%7=0 THEN 'Completed'
      |              WHEN o_orderkey%7=1 THEN 'Aborted'
      |              ELSE 'Open' END AS status
      |  FROM orders
      |)""".stripMargin

  /** parts(upload_id, part_number, size, hash) — ≤ 35 parts per upload with
    * unique (upload_id, part_number) keys, matching the reference's unique
    * part keys (`MultipartUploadPartKey`). */
  def parts(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val uploadId = lpad(col("l_orderkey").cast("string"), 12, "0")
    val partNumber = (col("l_linenumber") + lit(7) * (col("l_partkey") % 5)).cast("int")
    // MiB-scale sizes (1..100 MiB): ~4% of parts land under S3's 5 MiB
    // non-last-part minimum, so CompleteMultipartUpload's EntityTooSmall
    // rule (complete_multipart_upload.rs:522-527) is exercisable. The
    // synthetic lineitem repeats (orderkey, linenumber) pairs, so the
    // relation dedups by (upload_id, part_number) — MAX(size); the hash is
    // key-derived and needs no tie-break.
    l.select(
      uploadId.as("upload_id"),
      partNumber.as("part_number"),
      (((col("l_partkey") % 100) + 1) * 1048576L + col("l_linenumber")).cast("long").as("size"))
      .groupBy("upload_id", "part_number")
      .agg(max("size").as("size"))
      .withColumn("hash",
        md5(concat(col("upload_id"), lit("-"), col("part_number").cast("string"))))
  }

  val partsCte: String =
    """parts AS (
      |  SELECT upload_id, part_number, MAX(size) AS size,
      |         md5(upload_id||'-'||CAST(part_number AS VARCHAR)) AS hash
      |  FROM (SELECT lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS upload_id,
      |               CAST(l_linenumber + 7*(l_partkey%5) AS INT) AS part_number,
      |               CAST(((l_partkey%100)+1)*1048576 + l_linenumber AS BIGINT) AS size
      |        FROM lineitem)
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** bucketsLarge(bucket, group_id) — a bucket keyspace big enough to page
    * (one bucket per customer), for the plain ListBuckets scan
    * (`list_buckets.rs`). */
  def bucketsLarge(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      concat(lit("cb-"), lpad(col("c_custkey").cast("string"), 8, "0")).as("bucket"),
      concat(lit("grp-"), (col("c_custkey") % 5).cast("string")).as("group_id"))

  val bucketsLargeCte: String =
    """buckets_large AS (
      |  SELECT 'cb-'||lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS bucket,
      |         'grp-'||(c_custkey%5) AS group_id
      |  FROM customer
      |)""".stripMargin

  /** Versions keyspace view: unique on (bucket, key, version_ulid) — the
    * synthetic lineitem repeats (orderkey, linenumber) pairs, so duplicate
    * full version keys collapse with the head tie-break (MAX hash), like
    * the parts fixture. Every non-hash column is functionally determined
    * by (bucket, key, version_ord). */
  def versionsDedup(objects: DataFrame): DataFrame =
    objects.groupBy("bucket", "key", "version_ord", "version_ulid",
      "is_delete_marker", "created_at_ms")
      .agg(max("hash").as("hash"), max("size").as("size"))

  /** [[versionsDedup]] materialized once per session (the versions keyspace
    * IS a maintained table in the reference — an LSM keyspace, not a
    * per-query derivation; recomputing the fixture dedup for every branch
    * of a request batch would repeat its shuffle 5-7x). Clustered by
    * (bucket, key) so the per-key windows and request joins downstream
    * read co-located rows. */
  def versionsStore(spark: SparkSession, dir: String): DataFrame =
    graft.Store.materialized(spark, dir, "s3versions") { p =>
      versionsDedup(objectsFanned(spark, dir))
        .repartition(col("bucket"), col("key"))
        .sortWithinPartitions("bucket", "key", "version_ord")
        .write.parquet(p)
    }

  val versionsCte: String =
    """versions AS (
      |  SELECT bucket, key, version_ord, version_ulid, is_delete_marker,
      |         created_at_ms, MAX(hash) AS hash, MAX(size) AS size
      |  FROM objects GROUP BY 1, 2, 3, 4, 5, 6
      |)""".stripMargin

  /** Current heads: latest version per (bucket, key); a delete-marker head
    * hides the key (`list_objects_v2.rs:165-167`). */
  def heads(objects: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // version_ord can tie (duplicate source rows) — hash desc tie-break
    // keeps head selection deterministic.
    //
    // Deliberately a row_number window, NOT groupBy+max_by(row struct):
    // Spark 4 plans rank-limit windows with a PARTIAL WindowGroupLimit
    // below the shuffle (map-side top-1 per group — one surviving row per
    // (bucket, key) on the wire), while the struct max_by serializes whole
    // rows through an object aggregate. Measured at sf0.1: window 2.1 s vs
    // max_by 3.2 s for cat7, and cat1/cat2 regress ~3x the same way.
    val w = Window.partitionBy(col("bucket"), col("key"))
      .orderBy(col("version_ord").desc, col("hash").desc)
    objects
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("is_delete_marker"))
      .drop("__rn")
  }

  /** DuckDB equivalent of [[heads]] (expects `objects` CTE in scope). */
  val headsSql: String =
    """SELECT * FROM objects
      |QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket, key ORDER BY version_ord DESC, hash DESC) = 1
      |  AND NOT is_delete_marker""".stripMargin
}
