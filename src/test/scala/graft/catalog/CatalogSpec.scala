package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val objects = Seq(
    // bucket, key, version_ord, version_ulid, is_delete_marker, hash, size
    ("b1", "a/x/1.bin", 10L, "010", false, "h1", 100L),
    ("b1", "a/x/1.bin", 20L, "020", false, "h2", 200L), // newer version
    ("b1", "a/y/2.bin", 30L, "030", false, "h1", 100L),
    ("b1", "a/z.bin", 40L, "040", false, "h3", 300L), // leaf under a/
    ("b1", "a/del.bin", 50L, "050", false, "h1", 100L),
    ("b1", "a/del.bin", 60L, "060", true, "h1", 100L), // delete marker head
    ("b2", "a/x/1.bin", 70L, "070", false, "h1", 100L) // other bucket
  ).toDF("bucket", "key", "version_ord", "version_ulid", "is_delete_marker", "hash", "size")
    .withColumn("created_at_ms", col("version_ord"))

  test("common_prefix_of groups by first delimiter after prefix (listing.rs:4-14)") {
    val df = Seq("a/x/1.bin", "a/z.bin", "a/x/y/deep.bin").toDF("key")
      .select(col("key"), Listing.commonPrefixOf(col("key"), "a/", "/").as("cp"))
    val m = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("a/x/1.bin") == "a/x/")
    assert(m("a/x/y/deep.bin") == "a/x/") // only first delimiter level
    assert(m("a/z.bin") == null) // leaf
  }

  test("ListObjectsV2: delimiter grouping, delete-marker head hides key, newest version size") {
    val rows = Listing.listObjectsV2(objects, "b1", "a/", Some("/"), None)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // del.bin's head is a delete marker → hidden; x/ and y/ grouped; z.bin leaf
    assert(rows == Seq(("CommonPrefix", "a/x/"), ("CommonPrefix", "a/y/"), ("Object", "a/z.bin")))
    val leaf = Listing.listObjectsV2(objects, "b1", "a/x/", Some("/"), None).collect()
    assert(leaf.length == 1 && leaf(0).getString(1) == "a/x/1.bin" && leaf(0).getLong(2) == 200L)
  }

  test("ListObjectsV2: start_after cursor and max_keys page") {
    val page = Listing.listObjectsV2(objects, "b1", "a/", Some("/"),
      Some("a/x/"), maxKeys = 1).collect()
    assert(page.length == 1 && page(0).getString(1) == "a/y/")
  }

  test("ListObjectVersions: is_latest flag, delete markers as own kind") {
    val v = Listing.listVersions(objects, "b1", "a/del")
      .select("kind", "version_ulid", "is_latest").collect().map(_.toSeq).toSeq
    assert(v == Seq(Seq("DeleteMarker", "060", true), Seq("Version", "050", false)))
  }

  test("paged ListObjectVersions: marker-latest emitted, location skip, " +
    "tuple resume, shared budget trailer (list_object_versions.rs)") {
    // ord%7==3 → Reference (no location needed); others Materialized
    val vers = Seq(
      // multi-version key: 22 newer (head, materialized), 11 older (ord%7!=3)
      ("b1", "a/m.bin", 22L, "022", false, "h1", 10L),
      ("b1", "a/m.bin", 11L, "011", false, "h1", 10L),
      // marker-latest key: ListObjectVersions EMITS it with is_latest
      ("b1", "a/del.bin", 40L, "040", true, "h1", 10L),
      ("b1", "a/del.bin", 30L, "030", false, "h1", 10L),
      // materialized with MISSING location → skipped entirely
      ("b1", "a/skip.bin", 50L, "050", false, "hmiss", 10L),
      // Reference state (ord%7==3): survives despite missing location
      ("b1", "a/ref.bin", 59L, "059", false, "hmiss", 10L),
      // grouped under g/
      ("b1", "a/g/1.bin", 60L, "060", false, "h1", 10L)
    ).toDF("bucket", "key", "version_ord", "version_ulid", "is_delete_marker",
      "hash", "size")
      .withColumn("created_at_ms", col("version_ord"))
    val locs = Seq(("h1", "fs")).toDF("blake3", "backend")

    val all = Listing.listObjectVersionsPaged(vers, locs, "b1", "a/",
      delimiter = Some("/"), maxKeys = 10)
      .select("kind", "name", "version_ulid", "is_latest", "backend",
        "cached_meta").collect().map(_.toSeq).toSeq
    assert(all == Seq(
      Seq("DeleteMarker", "a/del.bin", "040", true, null, null),
      Seq("Version", "a/del.bin", "030", false, "fs", false),
      Seq("CommonPrefix", "a/g/", null, null, null, null),
      Seq("Version", "a/m.bin", "022", true, "fs", false),
      Seq("Version", "a/m.bin", "011", false, "fs", false),
      // a/ref.bin survives with cached metadata and NO backend;
      // a/skip.bin is absent (materialized, no location row)
      Seq("Version", "a/ref.bin", "059", true, null, true)))

    // budget truncation ending mid-key → (key, version) tuple markers
    val page = Listing.listObjectVersionsPaged(vers, locs, "b1", "a/",
      delimiter = Some("/"), maxKeys = 4).collect()
    assert(page.length == 4 && page.forall(_.getAs[Boolean]("is_truncated")))
    assert(page.head.getAs[String]("next_key_marker") == "a/m.bin" &&
      page.head.getAs[String]("next_version_id_marker") == "022")
    // tuple resume emits only the marker key's OLDER versions, then the rest
    val resumed = Listing.listObjectVersionsPaged(vers, locs, "b1", "a/",
      delimiter = Some("/"), keyMarker = Some("a/m.bin"),
      versionIdMarker = Some("022"), maxKeys = 10)
      .select("name", "version_ulid").collect().map(_.toSeq).toSeq
    assert(resumed == Seq(Seq("a/m.bin", "011"), Seq("a/ref.bin", "059")))
    // delimiter-suffixed key marker skips the whole group
    val pastGroup = Listing.listObjectVersionsPaged(vers, locs, "b1", "a/",
      delimiter = Some("/"), keyMarker = Some("a/g/"), maxKeys = 10)
      .select("name").collect().map(_.getString(0)).toSeq
    assert(pastGroup == Seq("a/m.bin", "a/m.bin", "a/ref.bin"))
  }

  test("bucket search: case-insensitive, ws- excluded (search_buckets.rs:88,144)") {
    val b = Seq("Prod-Data", "ws-scratch", "archive").toDF("bucket")
    assert(Listing.searchBuckets(b, "A").collect().map(_.getString(0)).toSeq
      == Seq("Prod-Data", "archive"))
  }

  test("full bucket search: limit clamp to 50-cap/1-floor, authorization " +
    "skip continues the scan, missing group name is NULL, ARN shape " +
    "(search_buckets.rs:83-245)") {
    val buckets = (1 to 60).map(i => (f"data-$i%03d", s"g${i % 3}", i.toLong))
      .toDF("bucket", "group_id", "created_at")
    val grants = (1 to 60).filter(_ % 2 == 0).map(i => f"data-$i%03d")
      .toDF("bucket") // odd buckets unreadable: skipped, scan continues
    val groups = Seq(("g0", "Zero"), ("g1", "One")) // g2 missing -> NULL
      .toDF("group_id", "display_name")
    val page = Listing.searchBucketsAuthorized(buckets, grants, groups,
      "data", limit = 7, realmId = "r1", nodeId = "n1").collect()
    assert(page.length == 7)
    assert(page.map(_.getString(1)).toSeq ==
      (2 to 14 by 2).map(i => f"data-$i%03d"))
    assert(page.head.getString(0) == "arn:aruna:r1:n1:s3/data-002")
    assert(page.exists(_.isNullAt(3)) && page.exists(r =>
      !r.isNullAt(3) && Set("Zero", "One")(r.getString(3))))
    // clamp: a 999 limit caps at 50, a 0 limit floors at 1
    assert(Listing.searchBucketsAuthorized(buckets, grants, groups,
      "data", 999, "r1", "n1").count() == 30)
    assert(Listing.searchBucketsAuthorized(buckets, grants, groups,
      "data", 0, "r1", "n1").count() == 1)
  }

  test("user/group name search: min-chars guard, clamp, substring") {
    val users = Seq("Ada Lovelace", "Alan Turing", "Grace Hopper").toDF("name")
    // below min chars → empty, never a full scan result
    assert(Listing.searchNames(users, "name", "a").count() == 0)
    assert(Listing.searchNames(users, "name", " ").count() == 0)
    assert(Listing.searchNames(users, "name", "al").collect().map(_.getString(0)).toSeq
      == Seq("Alan Turing")) // case-insensitive substring
    assert(Listing.searchNames(users, "name", "ace", limit = 1).count() == 1) // clamp
  }

  private lazy val mpUploads = Seq(
    ("u01", "b1", "mp/a/1.bin", "Open"),
    ("u02", "b1", "mp/a/2.bin", "Completed"), // closed: never listed
    ("u03", "b1", "mp/b/3.bin", "Open"),
    ("u04", "b1", "mp/b/3.bin", "Open"), // same key, larger upload_id
    ("u05", "b2", "mp/a/9.bin", "Open") // other bucket
  ).toDF("upload_id", "bucket", "key", "status")

  private lazy val mpParts = Seq(
    ("u01", 1, 10L, "h1"), ("u01", 3, 30L, "h3"), ("u01", 2, 20L, "h2"),
    ("u01", 7, 70L, "h7"), ("u02", 1, 10L, "h1")
  ).toDF("upload_id", "part_number", "size", "hash")

  test("ListParts: ascending order, marker resume, truncation marker (list_parts.rs:186-200)") {
    val p1 = Listing.listParts(mpUploads, mpParts, "u01", None, maxParts = 3)
      .collect()
    assert(p1.map(_.getAs[Int]("part_number")).toSeq == Seq(1, 2, 3)) // sorted, not insertion order
    assert(p1.forall(_.getAs[Boolean]("is_truncated")))
    assert(p1.forall(_.getAs[Int]("next_part_number_marker") == 3)) // last emitted
    val p2 = Listing.listParts(mpUploads, mpParts, "u01", Some(3), maxParts = 3)
      .collect()
    assert(p2.map(_.getAs[Int]("part_number")).toSeq == Seq(7))
    assert(p2.forall(!_.getAs[Boolean]("is_truncated"))) // final page: no marker
    assert(p2.forall(_.isNullAt(p2.head.fieldIndex("next_part_number_marker"))))
  }

  test("ListParts: missing or closed upload yields an empty page (NoSuchUpload/UploadNotOpen)") {
    assert(Listing.listParts(mpUploads, mpParts, "u99").count() == 0)
    assert(Listing.listParts(mpUploads, mpParts, "u02").count() == 0) // Completed
  }

  test("ListMultipartUploads: filter+sort+tuple marker (list_multipart_uploads.rs:196-219)") {
    val all = Listing.listMultipartUploads(mpUploads, "b1")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // Open only, (key, upload_id) order, other bucket excluded
    assert(all == Seq(("mp/a/1.bin", "u01"), ("mp/b/3.bin", "u03"), ("mp/b/3.bin", "u04")))
    // equal key survives only past the upload-id marker
    val resumed = Listing.listMultipartUploads(mpUploads, "b1",
      keyMarker = Some("mp/b/3.bin"), uploadIdMarker = Some("u03"))
      .collect().map(_.getString(2)).toSeq
    assert(resumed == Seq("u04"))
    // key marker WITHOUT an upload-id marker drops equal keys entirely
    val noIdMarker = Listing.listMultipartUploads(mpUploads, "b1",
      keyMarker = Some("mp/b/3.bin")).count()
    assert(noIdMarker == 0)
    // max_uploads=0 short-circuits to an empty page (:105-118)
    assert(Listing.listMultipartUploads(mpUploads, "b1", maxUploads = 0).count() == 0)
  }

  test("ListMultipartUploads: delimiter groups share the max_uploads budget") {
    val grouped = Listing.listMultipartUploads(mpUploads, "b1",
      prefix = Some("mp/"), delimiter = Some("/"), maxUploads = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(grouped == Seq(("CommonPrefix", "mp/a/"))) // one group consumed the budget
  }

  test("ListBuckets: group filter, token resume, continuation token (list_buckets.rs:117-144)") {
    val buckets = Seq(
      ("b-a", "g1"), ("b-b", "g1"), ("b-c", "g1"), ("b-d", "g2")
    ).toDF("bucket", "group_id")
    val p1 = Listing.listBuckets(buckets, "g1", maxBuckets = Some(2)).collect()
    assert(p1.map(_.getString(0)).toSeq == Seq("b-a", "b-b"))
    assert(p1.forall(_.getAs[Boolean]("is_truncated")))
    assert(p1.forall(_.getAs[String]("continuation_token") == "b-b"))
    val p2 = Listing.listBuckets(buckets, "g1",
      continuationToken = Some("b-b"), maxBuckets = Some(2)).collect()
    assert(p2.map(_.getString(0)).toSeq == Seq("b-c"))
    assert(p2.forall(!_.getAs[Boolean]("is_truncated")))
    // max_buckets ≤ 0 falls back to the 10k default clamp (list_buckets.rs:117-120)
    assert(Listing.listBuckets(buckets, "g1", maxBuckets = Some(0)).count() == 3)
  }

  test("CompleteMultipartUpload: positional first-fail, post-loop rules, subset OK") {
    val mib = 1048576L
    val ups = Seq(("u1", "b1", "k1", "Open"), ("u2", "b1", "k2", "Completed"))
      .toDF("upload_id", "bucket", "key", "status")
    val pts = Seq(
      ("u1", 1, 6 * mib, "h1"), ("u1", 2, 2 * mib, "h2"), ("u1", 3, 7 * mib, "h3"),
      ("u2", 1, 6 * mib, "h1")
    ).toDF("upload_id", "part_number", "size", "hash")
    def req(rows: (String, Int, Int, String, java.lang.Long)*) =
      rows.toDF("upload_id", "seq", "part_number", "etag", "declared_size")
    def verdictOf(r: org.apache.spark.sql.DataFrame) =
      Multipart.completeVerdicts(ups, pts, r).collect().map(x =>
        (x.getString(0), x.getString(1))).toMap
    // an etag mismatch at seq 1 beats an order violation at seq 3 — the
    // reference fails at the FIRST bad request position, not by rule rank
    assert(verdictOf(req(("u1", 1, 2, "WRONG", null), ("u1", 2, 3, "h3", null),
      ("u1", 3, 1, "h1", null)))("u1") == "PartEtagMismatch")
    // order violation at seq 2 beats a phantom part at seq 3
    assert(verdictOf(req(("u1", 1, 3, null, null), ("u1", 2, 1, null, null),
      ("u1", 3, 99, null, null)))("u1") == "InvalidPartOrder")
    // clean loop, but the non-last part 2 is 2 MiB < 5 MiB
    assert(verdictOf(req(("u1", 1, 1, null, null), ("u1", 2, 2, null, null),
      ("u1", 3, 3, null, null)))("u1") == "EntityTooSmall")
    // a small LAST part is fine; declared-size mismatch still fails
    assert(verdictOf(req(("u1", 1, 1, null, null), ("u1", 2, 2, null, null)))("u1") == "OK")
    assert(verdictOf(req(("u1", 1, 1, java.lang.String.valueOf("h1"), 6 * mib),
      ("u1", 2, 3, "h3", 6 * mib)))("u1") == "InvalidObjectSize")
    // subset compose is legal: object_size = sum of REQUESTED parts only
    val ok = Multipart.completeVerdicts(ups, pts,
      req(("u1", 1, 1, null, null), ("u1", 2, 3, null, null))).collect().head
    assert(ok.getString(1) == "OK" && ok.getLong(2) == 13 * mib && ok.getLong(3) == 2L)
    // closed upload yields no verdict row (UploadNotOpen)
    assert(Multipart.completeVerdicts(ups, pts, req(("u2", 1, 1, null, null))).count() == 0)
  }

  test("DeleteObjects verdicts: tombstones, NoSuchVersion, head transition (delete_object.rs)") {
    val vv = objects
    def nv: java.lang.String = null
    val reqs = Seq(
      ("b1", "a/x/1.bin", nv, "T1"), // unversioned → tombstone
      ("b1", "a/x/1.bin", "020", nv), // latest version → head transitions to 010
      ("b1", "a/x/1.bin", "010", nv), // non-latest version
      ("b1", "a/del.bin", "060", nv), // the tombstone itself → delete_marker true
      ("b1", "a/x/1.bin", "999", nv), // phantom → NoSuchVersion
      ("b1", "nope.bin", nv, "T2") // absent key, unversioned → still a marker
    ).toDF("bucket", "key", "req_version", "tomb_version")
    val out = ObjectOps.deleteVerdicts(vv, reqs).collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)).getOrElse("-")) ->
        (r.getString(3), r.get(4), Option(r.getString(5)).orNull,
          r.get(6), Option(r.getString(7)).orNull)).toMap
    assert(out(("b1", "a/x/1.bin", "-")) == ("OK", true, "T1", null, null))
    assert(out(("b1", "a/x/1.bin", "020")) == ("OK", false, "020", true, "010"))
    assert(out(("b1", "a/x/1.bin", "010")) == ("OK", false, "010", false, "020"))
    // removing the delete-marker version reports delete_marker=true
    // (VersionSummary::is_deleted) and restores 050 as head
    assert(out(("b1", "a/del.bin", "060")) == ("OK", true, "060", true, "050"))
    assert(out(("b1", "a/x/1.bin", "999")) == ("NoSuchVersion", null, null, null, null))
    assert(out(("b1", "nope.bin", "-")) == ("OK", true, "T2", null, null))
  }

  test("CopyObject source conditions: resolution errors first, AWS precedence (copy_object.rs:70-116)") {
    // created_at in ms so last_modified truncates to distinct whole seconds
    val vv = objects.withColumn("created_at_ms", col("version_ord") * 1000)
    def nv: java.lang.String = null
    def nl: java.lang.Long = null
    def req(rows: (String, String, String, String, String, String, java.lang.Long, java.lang.Long)*) =
      rows.toDF("req_id", "bucket", "key", "src_version",
        "if_match", "if_none_match", "if_modified_s", "if_unmodified_s")
    def run(r: org.apache.spark.sql.DataFrame) =
      ObjectOps.copyVerdicts(vv, r).collect()
        .map(x => x.getString(0) -> x.getString(1)).toMap
    val v = run(req(
      ("r1", "b1", "a/x/1.bin", nv, nv, nv, nl, nl), // plain head → OK
      ("r2", "b1", "a/del.bin", nv, nv, nv, nl, nl), // marker head → NoSuchKey
      ("r3", "b1", "zzz.bin", nv, nv, nv, nl, nl), // absent key → NoSuchKey
      ("r4", "b1", "a/del.bin", "050", nv, nv, nl, nl), // explicit live → OK
      ("r5", "b1", "a/del.bin", "060", nv, nv, nl, nl), // explicit marker → DeleteMarker
      ("r6", "b1", "a/del.bin", "999", nv, nv, nl, nl), // phantom → NoSuchVersion
      ("r7", "b1", "a/x/1.bin", nv, "\"h2\"", nv, nl, nl), // quoted match → OK
      ("r8", "b1", "a/x/1.bin", nv, "WRONG", nv, nl, nl),
      ("r9", "b1", "a/x/1.bin", nv, "*", nv, nl, nl),
      ("r10", "b1", "a/x/1.bin", nv, nv, "*", nl, nl), // none-match '*' on existing
      ("r11", "b1", "a/x/1.bin", nv, nv, "nope", nl, nl),
      // last_modified (20s) > if_unmodified (10s) → fail …
      ("r12", "b1", "a/x/1.bin", nv, nv, nv, nl, 10L),
      // … unless a correct if_match OVERRIDES it
      ("r13", "b1", "a/x/1.bin", nv, "h2", nv, nl, 10L),
      // last_modified (20s) <= if_modified (30s) → fail …
      ("r14", "b1", "a/x/1.bin", nv, nv, nv, 30L, nl),
      // … unless a non-matching if_none_match OVERRIDES it
      ("r15", "b1", "a/x/1.bin", nv, nv, "nope", 30L, nl)))
    assert(v("r1") == "OK" && v("r2") == "NoSuchKey" && v("r3") == "NoSuchKey")
    assert(v("r4") == "OK" && v("r5") == "DeleteMarker" && v("r6") == "NoSuchVersion")
    assert(v("r7") == "OK" && v("r8") == "PreconditionFailed" && v("r9") == "OK")
    assert(v("r10") == "PreconditionFailed" && v("r11") == "OK")
    assert(v("r12") == "PreconditionFailed" && v("r13") == "OK")
    assert(v("r14") == "PreconditionFailed" && v("r15") == "OK")
    // OK rows carry the resolved source; failures carry no result data
    val rows = ObjectOps.copyVerdicts(vv, req(
      ("r1", "b1", "a/x/1.bin", nv, nv, nv, nl, nl),
      ("r8", "b1", "a/x/1.bin", nv, "WRONG", nv, nl, nl))).collect()
      .map(x => x.getString(0) -> (Option(x.getString(2)).orNull,
        Option(x.getString(3)).orNull, x.get(4))).toMap
    assert(rows("r1") == ("020", "h2", 20L))
    assert(rows("r8") == (null, null, null))
  }

  test("reclaim sweep: strategy/grace precede location, exact-copy pin, freed bytes (blob/reclaim.rs)") {
    val now = 1000L
    val locs = Seq(
      ("h1", "fs", 100L), ("h2", "fs", 200L), ("h3", "fs", 300L),
      ("h3", "s3", 333L) // second copy of h3 on s3
    ).toDF("blake3", "backend", "size")
    val strat = Seq(("fs", java.lang.Long.valueOf(50L)),
      ("s3", null.asInstanceOf[java.lang.Long])).toDF("backend", "grace_s")
    // h1 is referenced on fs only
    val refs = Seq(("h1", "fs"), ("h3", "fs")).toDF("blake3", "backend")
    val cand = Seq(
      ("h1", "fs", 900L), // due, located, referenced -> Pinned
      ("h2", "fs", 900L), // due, located, unreferenced -> Freed 200
      ("h2", "fs", 990L), // grace 50: 990+50 > 1000 -> NotDue
      ("h9", "fs", 990L), // NotDue BEFORE the missing-location check
      ("h9", "fs", 900L), // due but no location -> Dropped
      ("h3", "s3", 100L), // retain strategy (NULL grace) -> Dropped even if ancient
      ("h1", "b2", 900L), // vanished backend -> Dropped
      ("h2", "s3", 900L)  // retain again -> Dropped (not Freed)
    ).toDF("blake3", "backend", "enqueued_s")
    val out = Reclaim.sweepVerdicts(cand, locs, strat, refs, now)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out(("fs", "Pinned")) == (1L, 0L))
    assert(out(("fs", "Freed")) == (1L, 200L))
    assert(out(("fs", "NotDue")) == (2L, 0L), s"NotDue must precede location: $out")
    assert(out(("fs", "Dropped")) == (1L, 0L))
    assert(out(("s3", "Dropped")) == (2L, 0L), s"retain must drop: $out")
    assert(out(("b2", "Dropped")) == (1L, 0L))
    // the s3 copy of h3 is NOT pinned by the fs reference (exact-copy check)
    val c2 = Seq(("h3", "s3", 100L)).toDF("blake3", "backend", "enqueued_s")
    val s2 = Seq(("s3", 50L)).toDF("backend", "grace_s")
    val v2 = Reclaim.sweepVerdicts(c2, locs, s2, refs, now).collect().head
    assert(v2.getString(1) == "Freed" && v2.getLong(3) == 333L,
      s"cross-backend reference must not pin: $v2")
  }

  test("notifications: badge caps at 100, exact at 100, examine window caps deep inboxes") {
    import org.apache.spark.sql.functions.{lit => l}
    def mk(recipient: String, n: Int, unread: Int) =
      spark.range(0, n).select(
        l(recipient).as("recipient"),
        (l(1000000L) + col("id")).as("created_at_ms"),
        lpad(col("id").cast("string"), 12, "0").as("notification_id"),
        when(col("id") < unread, l(null).cast("long"))
          .otherwise(l(5L)).as("read_at_ms"))
    val inbox = mk("a", 150, 101) // 101 unread -> badge caps at 100
      .unionByName(mk("b", 150, 100)) // exactly 100 -> exact, NOT capped
      .unionByName(mk("c", 2500, 30)) // deep mostly-read -> examine cap
      .unionByName(mk("d", 2500, 0)) // deep all-read -> 0 but capped
    val out = Notifications.unreadCounts(inbox).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out("a") == (100L, true), s"101st unread must cap: $out")
    assert(out("b") == (100L, false), s"exactly 100 is exact: $out")
    // c's 30 unread are its OLDEST rows; the newest-first 2000-row examine
    // window never reaches them — count 0, capped (the badge stays honest)
    assert(out("c") == (0L, true), s"deep inbox caps on the examine window: $out")
    assert(out("d") == (0L, true), s"all-read deep inbox still reports capped: $out")
  }

  test("drs resolve: locator grammar, versioned ladder, hash first-success, denied-vs-notfound end state (drs.rs:490-683)") {
    val h32 = "a" * 32
    val g32 = "b" * 32
    val objs = Seq(
      // bucket, key, version_ord, version_ulid, marker, hash
      ("bA", "k1", 10L, "010", false, h32), // resolvable, readable
      ("bA", "k1", 89L, "089", false, h32), // stale as a hash mapping (%89)
      ("bB", "k2", 11L, "011", false, g32), // readable=false bucket
      ("bA", "k3", 202L, "202", false, g32), // no stored location (%101)
      ("bA", "k4", 12L, "012", true, h32)) // delete marker
      .toDF("bucket", "key", "version_ord", "version_ulid",
        "is_delete_marker", "hash")
    val buckets = Seq(("bA", "g1"), ("bB", "g2")).toDF("bucket", "group_id")
    val readable = Seq("g1").toDF("group_id")
    val w3 = Drs.W3idPrefix
    val reqs = Seq(
      s"${w3}arn:aruna:rlm:n0:s3/bA/k1@010", // w3id-wrapped versioned
      "arn:aruna:rlm:n0:s3/bB/k2@011", // readable=false -> denied
      "arn:aruna:rlm:n0:s3/bA/k3@202", // no location -> not_found
      "arn:aruna:rlm:n0:s3/bA/k4@012", // marker -> not_found
      "arn:aruna:rlm:n1:s3/bA/k1@010", // wrong node -> not_found
      w3 + h32 + h32, // hash: 010 found (089 stale, 012 marker)
      "arn:aruna:rlm:n0:ch/" + g32 + g32, // mappings exist, none survive
      w3 + ("c" * 64), // unknown hash -> not_found
      w3 + "deadbeef") // bad
      .toDF("object_id")
    val out = Drs.bulkResolve(reqs, objs, buckets, readable, "rlm", "n0")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.getString(4)).getOrElse(""))).toMap
    assert(out(s"${w3}arn:aruna:rlm:n0:s3/bA/k1@010")._1 == "found")
    assert(out("arn:aruna:rlm:n0:s3/bB/k2@011")._1 == "denied")
    assert(out("arn:aruna:rlm:n0:s3/bA/k3@202")._1 == "not_found")
    assert(out("arn:aruna:rlm:n0:s3/bA/k4@012")._1 == "not_found")
    assert(out("arn:aruna:rlm:n1:s3/bA/k1@010")._1 == "not_found")
    assert(out(w3 + h32 + h32) == (("found", "010")),
      s"hash pick: ${out(w3 + h32 + h32)}")
    // g32's mappings: one unreadable, one location-less -> hash provably on
    // node but nothing serves it: DENIED, not not_found (drs.rs:676-681)
    assert(out("arn:aruna:rlm:n0:ch/" + g32 + g32)._1 == "denied")
    assert(out(w3 + ("c" * 64))._1 == "not_found")
    assert(out(w3 + "deadbeef")._1 == "bad_request")
  }

  test("mark read: unread-only transitions, id+watermark union, 512-id cap fails whole request (mark_read.rs:17-18,170-183)") {
    val inbox = Seq(
      ("r", 100L, "n1", None), // unread, named -> marks
      ("r", 200L, "n2", Some(250L)), // already read, named -> no-op
      ("r", 300L, "n3", None), // unread, under watermark -> marks
      ("r", 900L, "n4", None)) // unread, above watermark, unnamed -> stays
      .toDF("recipient", "created_at_ms", "notification_id", "read_at_ms")
    val ids = Seq(("r", "n1"), ("r", "n2")).toDF("recipient", "notification_id")
    val times = Seq(("r", 400L)).toDF("recipient", "up_to_ms")
    val out = Notifications.markRead(inbox, ids, times, nowMs = 1000L)
      .collect().head
    assert(out.getString(1) == "ok" && out.getLong(2) == 2L &&
      out.getLong(3) == 1L, s"got $out")

    // over the id cap: the whole request fails, nothing marks
    val many = spark.range(0, 513).select(lit("r").as("recipient"),
      concat(lit("x"), col("id").cast("string")).as("notification_id"))
    val err = Notifications.markRead(inbox, many, times.filter(lit(false)),
      nowMs = 1000L).collect().head
    assert(err.getString(1) == "too_many_ids" && err.getLong(2) == 0L &&
      err.getLong(3) == 3L, s"got $err")
  }

  test("prune plan: cap binds at the 501st fresh transient, expired rows report separately (prune.rs:236-255)") {
    // 502 fresh transients -> exactly 2 capped (ranks 501, 502); 2 ancient
    // rows -> expired, never double-counted as capped (in the reference's
    // walk expired rows `continue` before the transient_seen increment —
    // and since expiry is monotone in created_at within a class, expired
    // transients always sort after every fresh one, so the two branches
    // can never contend for the same slot)
    val now = 1000000L
    val fresh = spark.range(0, 502).select(
      lit("r").as("recipient"),
      (lit(now) - col("id")).as("created_at_ms"), // newest first by id
      lpad(col("id").cast("string"), 12, "0").as("notification_id"),
      lit("Transient").as("class"))
    // two ancient rows that sort OLDEST — expired, after the cap boundary
    val expired = spark.range(0, 2).select(
      lit("r").as("recipient"),
      (lit(now) - Notifications.TransientTtlMs - 10 - col("id")).as("created_at_ms"),
      lpad((col("id") + 900).cast("string"), 12, "0").as("notification_id"),
      lit("Transient").as("class"))
    val out = Notifications.prunePlan(fresh.unionByName(expired), now)
      .collect().map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(out == Map("kept" -> 500L, "capped" -> 2L, "expired" -> 2L),
      s"verdict counts wrong: $out")
  }

  test("map_sync_key: seam rules, prefix miss kills the target, leading-slash trim (version_replication.rs:473-494)") {
    val cases = Seq(
      // key, source_prefix, target_prefix -> expected
      ("data/A/x.bin", null, null, "data/A/x.bin"),
      ("///x.bin", null, null, "x.bin"), // ALL leading slashes trimmed
      ("data/A/x.bin", "data/A", null, "x.bin"), // suffix "/x.bin" trimmed
      ("data/A/x.bin", "data/A", "mirror", "mirror/x.bin"), // bare + "/suffix"
      ("data/A/x.bin", "data/A", "mirror/", "mirror/x.bin"), // dir + "/suffix"
      ("data/A/x.bin", "data/A/", "mirror", "mirror/x.bin"), // bare + bare -> glued /
      ("data/A/x.bin", "data/A/", "mirror/", "mirror/x.bin"), // dir + bare
      ("data/A", "data/A", "mirror", "mirror"), // empty suffix -> verbatim
      ("data/R/x.bin", "data/A", "mirror", null), // prefix miss -> NO target
      ("data/A/x.bin", null, "mirror", "mirror/data/A/x.bin"))
    val df = cases.toDF("key", "sp", "tp", "want")
      .withColumn("got", Replication.mapSyncKey(col("key"), col("sp"), col("tp")))
    df.collect().foreach { r =>
      assert(r.getAs[String]("got") == r.getAs[String]("want"),
        s"map_sync_key(${r.getAs[String]("key")}, ${r.getAs[String]("sp")}, " +
          s"${r.getAs[String]("tp")}) = ${r.getAs[String]("got")}, " +
          s"want ${r.getAs[String]("want")}")
    }
  }

  test("blob locations: 64-destination cap keeps first arrivals, capped flag, holder drop rule (blobs.rs:56,601-647)") {
    // one probe; 80 queued nodes -> 80 phase-3 destinations, cap keeps the
    // 64 smallest node ids; the local row never counts against the cap
    val probe = Seq(("b", "k", "v1", false, "hx"))
      .toDF("p_bucket", "p_key", "p_version", "p_dm", "p_hash")
    val rels = ReplicationTables.relationships(spark).filter(lit(false))
    val cfg = ReplicationTables.bucketTargets(spark).filter(lit(false))
    val jobs = spark.range(0, 80).select(
      lpad(col("id").cast("string"), 12, "0").as("job_key"),
      lit("b").as("j_bucket"), lit("Bucket").as("j_kind"),
      lit("").as("j_prefix"), lit("").as("j_key"), lit("").as("j_version"),
      concat(lit("q"), lpad(col("id").cast("string"), 3, "0")).as("j_node"),
      lit(true).as("j_markers"), lit(true).as("decodable"))
    val out = Replication.blobLocations(probe, rels, cfg, jobs, "n0",
      holderNodes = 0)
    val rows = out.collect()
    assert(rows.count(!_.getAs[Boolean]("local")) == 64,
      s"cap should keep 64 peers, got ${rows.length - 1}")
    assert(rows.forall(_.getAs[Boolean]("capped")), "capped flag not set")
    assert(!rows.exists(_.getAs[String]("node_id") == "q064"),
      "arrival order not respected: q064 survived the cap")
    assert(rows.forall(!_.getAs[Boolean]("complete")))

    // holder-only candidates that do not hold this version drop from the
    // answer and flag HolderPathUnknown; expected non-held peers stay Pending
    val probe2 = Seq(("b", "k", "v1", false, "hz"))
      .toDF("p_bucket", "p_key", "p_version", "p_dm", "p_hash")
    val out2 = Replication.blobLocations(probe2, rels, cfg,
      jobs.filter(lit(false)), "n0", holderNodes = 8)
    val rows2 = out2.collect()
    val peers2 = rows2.filter(!_.getAs[Boolean]("local"))
    assert(peers2.forall(_.getAs[String]("state") == "Present"),
      "a surviving holder-only candidate must hold the version")
    if (rows2.exists(_.getAs[Boolean]("path_unknown")))
      assert(rows2.forall(_.getAs[Boolean]("path_unknown")))
  }

  test("queued covers: Version kind needs the version match, marker-declining job skips marker probes (queued.rs:78-92)") {
    val probes = Seq(
      ("b", "k1", "00000000001", false, "h"),
      ("b", "k2", "00000000002", true, "h")) // marker head probe
      .toDF("p_bucket", "p_key", "p_version", "p_dm", "p_hash")
    val jobs = Seq(
      // job_key, bucket, kind, prefix, key, version, node, markers, decodable
      ("j1", "b", "Version", "", "k1", "00000000001", "nA", true, true),
      ("j2", "b", "Version", "", "k1", "00000000009", "nB", true, true),
      ("j3", "b", "Object", "", "k2", "", "nC", false, true), // declines markers
      ("j4", "b", "Object", "", "k2", "", "nD", true, true),
      ("j5", "b", "Object", "", "k1", "", "nE", true, false)) // undecodable
      .toDF("job_key", "j_bucket", "j_kind", "j_prefix", "j_key", "j_version",
        "j_node", "j_markers", "decodable")
    val nodes = Replication.queuedNodes(probes, jobs).collect()
      .map(r => (r.getAs[String]("p_key"), r.getAs[String]("node_id")))
      .toSet
    assert(nodes == Set(
      ("k1", "nA"), // version matched; nB's version mismatch excluded
      ("k2", "nD")), // marker probe: nC declines markers, nD accepts
      s"covers set wrong: $nodes")
  }

  test("queued scan flags: skipped counts only inside the 1024-row window, truncated past it") {
    val jobs = spark.range(0, 1500).select(
      lpad(col("id").cast("string"), 12, "0").as("job_key"),
      (col("id") % 100 =!= 0).as("decodable"))
    val f = Replication.queuedScanFlags(jobs).collect().head
    // undecodable ids 0,100,...,1000 are inside the window (11); 1100+ not
    assert(f.getAs[Long]("skipped") == 11L, s"skipped=${f.get(0)}")
    assert(f.getAs[Boolean]("truncated"))
    val f2 = Replication.queuedScanFlags(jobs.limit(1024)).collect().head
    assert(!f2.getAs[Boolean]("truncated"))
  }

  test("job prune batch: truncation partial, fences free, cap excludes, exact-fill arms has_more (jobs/prune.rs:52-137)") {
    // (expiry_ms, job_id, malformed, exists, fenced, n_entries); plain jobs:
    // no rocrate/dedup/epochs -> fixed deletes = 7
    def idx(rows: (Long, String, Boolean, Boolean, Boolean, Int)*) =
      rows.toDF("expiry_ms", "job_id", "malformed", "exists", "fenced",
          "n_entries")
        .withColumn("rocrate", lit(false))
        .withColumn("has_dedup", lit(false))
        .withColumn("epochs", lit(0))
    def run(df: org.apache.spark.sql.DataFrame, now: Long) =
      JobPrune.pruneBatch(df, now, pageSize = 4).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getBoolean(3),
            if (r.isNullAt(4)) -1L else r.getLong(4))).toMap

    // cap 16: pruned(3+7=10) -> fenced(0) -> e=9 > remaining 6 -> truncated
    // contributes 6 and stops; the orphan after it is never scanned
    val a = run(idx(
      (100L, "j1", false, true, false, 3),
      (200L, "j2", false, true, true, 1),
      (300L, "j3", false, true, false, 9),
      (400L, "j4", false, false, false, 1)), now = 1000L)
    assert(a("pruned") == ((1L, 10L, true, -1L)), s"a=$a")
    assert(a("fenced") == ((1L, 0L, true, -1L)))
    assert(a("truncated") == ((1L, 6L, true, -1L)))
    assert(!a.contains("orphan"))

    // due slice under cap + a future row: timer armed, no more work
    val b = run(idx(
      (100L, "j1", false, true, false, 1),
      (6000L, "j9", false, true, false, 1)), now = 1000L)
    assert(b("pruned") == ((1L, 8L, false, 5000L)), s"b=$b")

    // exact fill (8+8 = cap 16) with a not-due row waiting: the cap check
    // runs BEFORE the expiry check, so has_more and NO timer
    val c = run(idx(
      (100L, "j1", false, true, false, 1),
      (200L, "j2", false, true, false, 1),
      (6000L, "j9", false, true, false, 1)), now = 1000L)
    assert(c("pruned") == ((2L, 16L, true, -1L)), s"c=$c")

    // a row reached with the cap already full is excluded entirely
    val dres = run(idx(
      (100L, "j1", false, true, false, 1),
      (200L, "j2", false, true, false, 1),
      (300L, "j3", true, true, false, 1)), now = 1000L)
    assert(dres("pruned") == ((2L, 16L, true, -1L)) && !dres.contains("malformed"),
      s"d=$dres")
  }

  test("subject merge: chain folds to min id, realm isolates, canonical never its own alias (user_subject_index.rs:236-280)") {
    val subjects = Seq(
      // u1-u2 share s1, u2-u3 share s2 -> one component {u1,u2,u3}
      ("u1", "rA", "s1"), ("u2", "rA", "s1"),
      ("u2", "rA", "s2"), ("u3", "rA", "s2"),
      // SAME subject s1 in another realm: never merges
      ("u4", "rB", "s1"),
      // singleton
      ("u5", "rA", "s9"))
      .toDF("user_id", "realm", "subject")
    val aliases = Seq(
      ("u2", "x2"), // planted alias on a loser -> absorbed by canonical
      ("u3", "u1")) // alias equal to the canonical id -> removed
      .toDF("user_id", "alias_id")
    val out = Identity.subjectMerge(subjects, aliases).collect()
      .map(r => r.getString(1) -> r).toMap
    val c1 = out("u1")
    assert(c1.getString(0) == "rA" && c1.getLong(2) == 3L)
    assert(c1.getString(3) == "u1,u2,u3")
    assert(c1.getString(4) == "s1,s2")
    assert(c1.getString(5) == "u2,u3,x2", s"aliases: ${c1.getString(5)}")
    assert(out("u4").getLong(2) == 1L && out("u4").getString(5) == "")
    assert(out("u5").getLong(2) == 1L)

    val rw = Identity.subjectIndexRewrite(subjects,
        Identity.subjectMerge(subjects, aliases))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      .toMap
    assert(rw(("rA", "s1")) == "u1" && rw(("rA", "s2")) == "u1")
    assert(rw(("rB", "s1")) == "u4") // realm-scoped rewrite
  }

  test("authz ladder: deny wins, narrow grant, write implies read, public read-only, foreign everyone inert, restrictions whitelist, anon empty (permission_rules.rs:110-158,470-473)") {
    val roles = Seq(
      (1L, "r0", "gA", "/r0/g/gA/meta/**", "READ"),
      (2L, "r0", "gA", "/r0/g/gA/meta/secret", "DENY"),
      (3L, "r0", "gA", "/r0/g/gA/data/only", "READ"), // narrow grant
      (4L, "r0", "gA", "/r0/g/gA/w/**", "WRITE"),
      (5L, "r0", "gA", "/r0/g/gA/pub/*", "READ"), // public (everyone@r0)
      (6L, "r0", "gA", "/r0/g/gA/pubw/**", "WRITE"), // public WRITE: inert
      (7L, "r0", "gA", "/r0/g/gA/foreign/**", "READ")) // everyone@r1: inert
      .toDF("role_id", "realm", "group_id", "pattern", "permission")
    val assigns = Seq(
      (1L, "u0"), (2L, "u0"), (3L, "u0"), (4L, "u0"),
      (5L, "everyone@r0"), (6L, "everyone@r0"), (7L, "everyone@r1"))
      .toDF("role_id", "user_id")
    val restr = Seq(("u9", "/r0/g/gA/meta/**", "READ"))
      .toDF("caller", "pattern", "permission")
    def reqs(rows: (String, String, String)*) =
      rows.toSeq.map { case (c, p, req) => (c, "r0", "gA", p, req) }
        .toDF("caller", "realm", "group_id", "path", "required")
    val out = Authz.decide(reqs(
      ("u0", "/r0/g/gA/meta/secret", "READ"), // deny beats meta/** READ
      ("u0", "/r0/g/gA/meta/open", "READ"),
      ("u0", "/r0/g/gA/meta/open", "WRITE"), // READ grant != WRITE
      ("u0", "/r0/g/gA/data/only", "READ"),
      ("u0", "/r0/g/gA/data/other", "READ"), // narrow grant stays narrow
      ("u0", "/r0/g/gA/w/x", "WRITE"),
      ("u0", "/r0/g/gA/w/x", "READ"), // WRITE implies READ
      ("u1", "/r0/g/gA/pub/doc", "READ"), // public grants READ to anyone
      ("u1", "/r0/g/gA/pub/doc", "WRITE"),
      ("u1", "/r0/g/gA/pubw/doc", "WRITE"), // public WRITE inert
      ("u1", "/r0/g/gA/pubw/doc", "READ"),
      ("u1", "/r0/g/gA/foreign/doc", "READ"), // foreign everyone inert
      ("u1", "/r0/g/gA/pub/sub/doc", "READ"), // '*' does not cross '/'
      ("anon", "/r0/g/gA/pub/doc", "READ")), // anon holds no rules
      roles, assigns, restr)
      .collect().map(r => (r.getString(0), r.getString(3), r.getString(4)) ->
        r.getString(5)).toMap
    assert(out(("u0", "/r0/g/gA/meta/secret", "READ")) == "deny_rule")
    assert(out(("u0", "/r0/g/gA/meta/open", "READ")) == "allowed")
    assert(out(("u0", "/r0/g/gA/meta/open", "WRITE")) == "no_grant")
    assert(out(("u0", "/r0/g/gA/data/only", "READ")) == "allowed")
    assert(out(("u0", "/r0/g/gA/data/other", "READ")) == "no_grant")
    assert(out(("u0", "/r0/g/gA/w/x", "WRITE")) == "allowed")
    assert(out(("u0", "/r0/g/gA/w/x", "READ")) == "allowed")
    assert(out(("u1", "/r0/g/gA/pub/doc", "READ")) == "allowed")
    assert(out(("u1", "/r0/g/gA/pub/doc", "WRITE")) == "no_grant")
    assert(out(("u1", "/r0/g/gA/pubw/doc", "WRITE")) == "no_grant")
    assert(out(("u1", "/r0/g/gA/pubw/doc", "READ")) == "no_grant")
    assert(out(("u1", "/r0/g/gA/foreign/doc", "READ")) == "no_grant")
    assert(out(("u1", "/r0/g/gA/pub/sub/doc", "READ")) == "no_grant")
    assert(out(("anon", "/r0/g/gA/pub/doc", "READ")) == "no_grant")

    // restrictions: whitelist on top of a WRITE-everything grant
    val roles2 = Seq((1L, "r0", "gA", "/r0/g/gA/**", "WRITE"))
      .toDF("role_id", "realm", "group_id", "pattern", "permission")
    val assigns2 = Seq((1L, "u9")).toDF("role_id", "user_id")
    val out2 = Authz.decide(reqs(
      ("u9", "/r0/g/gA/meta/doc", "READ"), // restriction READ passes READ
      ("u9", "/r0/g/gA/meta/doc", "WRITE"), // ...but blocks WRITE
      ("u9", "/r0/g/gA/data/doc", "READ")), // no matching restriction
      roles2, assigns2, restr)
      .collect().map(r => (r.getString(3), r.getString(4)) -> r.getString(5))
      .toMap
    assert(out2(("/r0/g/gA/meta/doc", "READ")) == "allowed")
    assert(out2(("/r0/g/gA/meta/doc", "WRITE")) == "restriction_blocks")
    assert(out2(("/r0/g/gA/data/doc", "READ")) == "restriction_blocks")
    val restrDeny = Seq(("u9", "/r0/g/gA/**", "DENY"))
      .toDF("caller", "pattern", "permission")
    val out3 = Authz.decide(reqs(("u9", "/r0/g/gA/meta/doc", "READ")),
      roles2, assigns2, restrDeny).collect()
    assert(out3.head.getString(5) == "restriction_deny")
  }

  test("mirror repair: backoff table, sweep ladder, cap + next-due trailer (sync_mirror_repair.rs:368-612; queue_backoff.rs:4-12)") {
    // queue_retry_after_ms policy values (queue_backoff.rs test table)
    val backoff = spark.range(0, 10).toDF("a")
      .select(MirrorRepair.retryAfterMs(col("a")).as("ms"))
      .collect().map(_.getLong(0)).toSeq
    assert(backoff == Seq(250L, 500L, 1000L, 2000L, 4000L, 8000L, 16000L,
      30000L, 30000L, 30000L))

    val now = 1000L
    val repairs = Seq(
      ("r1", "Reconcile", 900L, 0L), // live rel, writable -> ensure ok
      ("r2", "Reconcile", 900L, 2L), // detached -> delete_mirror, never resurrect
      ("r3", "Reconcile", 900L, 1L), // rel missing -> delete_mirror
      ("r4", "Reconcile", 900L, 3L), // bucket missing -> fail
      ("r5", "Reconcile", 900L, 9L), // no WRITE -> fail, backoff capped
      ("r6", "Delete", 1000L, 0L), // delete processes local+mirror
      ("r7", "Reconcile", 1500L, 0L)) // future -> next_due source
      .toDF("rel_id", "intent", "due_at_ms", "attempts")
    val rels = Seq(
      ("r1", "Active", "bA", "u0"), ("r2", "Detached", "bA", "u0"),
      ("r4", "Active", "bMissing", "u0"), ("r5", "Active", "bA", "u9"),
      ("r6", "Active", "bA", "u0"))
      .toDF("rel_id", "state", "target_bucket", "created_by")
    val buckets = Seq("bA").toDF("bucket")
    val writable = Seq(("u0", "bA")).toDF("user_id", "bucket")
    val out = MirrorRepair.sweep(repairs, rels, buckets, writable, now)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("r1").getString(2) == "ensure_mirror" &&
      out("r1").getString(4) == "cleared")
    assert(out("r2").getString(2) == "delete_mirror" &&
      out("r2").getString(4) == "cleared")
    assert(out("r3").getString(2) == "delete_mirror")
    assert(out("r4").getString(3) == "target bucket not found" &&
      out("r4").getLong(5) == 4L && // attempts+1
      out("r4").getLong(6) == now + 4000L) // 250*2^4
    assert(out("r5").getString(3) == "access_denied" &&
      out("r5").getLong(6) == now + 30000L) // shift capped
    assert(out("r6").getString(2) == "delete_local_and_mirror")
    assert(!out.contains("r7"), "future record must not process")
    assert(!out("r1").getBoolean(7)) // cap did not bind
    assert(out("r1").getLong(8) == 500L) // next_due_after = 1500 - 1000

    // 65 due records: cap binds, trailer suppresses next_due
    val many = spark.range(0, 65).select(
      lpad(col("id").cast("string"), 3, "0").as("rel_id"),
      lit("Delete").as("intent"), lit(900L).as("due_at_ms"),
      lit(0L).as("attempts"))
    val capped = MirrorRepair.sweep(many, rels.limit(0), buckets,
      writable, now).collect()
    assert(capped.length == 64 && capped.forall(_.getBoolean(7)))
    assert(capped.forall(_.isNullAt(8)))
  }

  test("mirror intent ledger: delete supersedes reconcile, status guards, clear by expected intent (sync_mirror_repair.rs:141-214,673-745)") {
    def fold(evs: (String, String)*): String = {
      val df = evs.zipWithIndex
        .map { case ((k, st), i) => ("r", i, k, st) }
        .toDF("rel_id", "seq", "kind", "rel_state")
      MirrorRepair.ledgerFold(df).collect().head.getString(1)
    }
    // delete_supersedes_reconcile
    assert(fold(("stage_delete", "Active"),
      ("stage_reconcile", "Active")) == "Delete")
    // delete_blocks_status
    assert(fold(("stage_delete", "Active"),
      ("status_update", "Active")) == "Delete")
    // status_stages_reconcile
    assert(fold(("status_update", "Active")) == "Reconcile")
    // status never resurrects detached/missing
    assert(fold(("status_update", "Detached")) == "none")
    assert(fold(("status_update", "missing")) == "none")
    // clear only on the expected intent; delete_clear_preserved
    assert(fold(("stage_delete", "Active"),
      ("clear_reconcile", "Active")) == "Delete")
    assert(fold(("stage_reconcile", "Active"),
      ("clear_delete", "Active")) == "Reconcile")
    assert(fold(("stage_delete", "Active"),
      ("clear_delete", "Active")) == "none")
    // a cleared delete no longer blocks a fresh reconcile
    assert(fold(("stage_delete", "Active"), ("clear_delete", "Active"),
      ("stage_reconcile", "Active")) == "Reconcile")
  }

  test("CORS matcher: wildcard split, case rules, first-match, header echo (api/src/s3/cors.rs:52-256)") {
    // wildcard_match table: '*', literal, first-* split with the
    // no-overlap length check (cors.rs:242-256)
    val wcCases = Seq(
      ("*", "anything", true),
      ("https://example.org", "https://example.org", true),
      ("https://example.org", "https://example.com", false),
      ("https://*.example.org", "https://bucket.example.org", true),
      ("https://*.example.org", "https://example.org", false), // len check
      ("https://*", "https://x", true),
      ("a*a", "a", false), // prefix+suffix may not overlap (len 1 < 2)
      ("a*a", "aa", true), // exactly prefix+suffix, no overlap
      ("a*a", "aba", true))
    val wcDf = wcCases.map { case (p, v, _) => (p, v) }
      .toDF("p", "v")
      .select(Cors.wildcardMatch(col("p"), col("v")).as("m"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(wcDf == wcCases.map(_._3))

    def run(reqs: Seq[(Long, String, String, String, String, Boolean)],
        rules: Seq[(String, Int, Seq[String], Seq[String], Seq[String],
          Seq[String], Option[Int])]) =
      Cors.decide(
        reqs.toDF("req_id", "bucket", "origin", "method", "headers_raw",
          "preflight"),
        rules.toDF("bucket", "rule_idx", "allowed_origins",
          "allowed_methods", "allowed_headers", "expose_headers", "max_age"))
        .collect()

    // matches_preflight_rules_with_case_insensitive_header_checks
    val r1 = run(
      Seq((1L, "b", "https://bucket.example.org", "PUT",
        "Content-Type, X-Amz-Meta-Test", true)),
      Seq(("b", 0, Seq("https://*.example.org"), Seq("GET", "PUT"),
        Seq("content-type", "x-amz-meta-*"), Seq.empty, Some(300)))).head
    assert(r1.getAs[Boolean]("matched"))
    assert(r1.getAs[String]("allow_origin") == "https://bucket.example.org")
    assert(r1.getAs[String]("allow_headers") ==
      "content-type,x-amz-meta-test") // requested echoes back, lowercased
    assert(r1.getAs[Int]("max_age") == 300)

    // matches_actual_rules_with_wildcard_origin: '*' answers '*'
    val r2 = run(
      Seq((1L, "b", "https://example.org", "GET", null, false)),
      Seq(("b", 0, Seq("*"), Seq("GET"), Seq.empty, Seq("etag"),
        None))).head
    assert(r2.getAs[String]("allow_origin") == "*")
    assert(r2.getAs[String]("expose_headers") == "etag")
    assert(r2.getAs[Boolean]("inject_cors"))

    // rejects_preflight_when_requested_header_is_not_allowed; and an
    // empty allowed_headers list rejects ANY requested header
    val r3 = run(
      Seq((1L, "b", "https://example.org", "PUT", "x-custom-header", true),
        (2L, "b", "https://example.org", "PUT", "content-type", true)),
      Seq(("b", 0, Seq("https://example.org"), Seq("PUT"),
        Seq("content-type"), Seq.empty, None),
        ("b", 1, Seq("https://example.org"), Seq("PUT"),
          Seq.empty, Seq.empty, None)))
    assert(!r3.find(_.getLong(0) == 1L).get.getAs[Boolean]("matched"))
    assert(r3.find(_.getLong(0) == 1L).get.getAs[Int]("status") == 403)
    assert(r3.find(_.getLong(0) == 2L).get.getAs[Int]("rule_idx") == 0)

    // first-match by config order, not best-match
    val r4 = run(
      Seq((1L, "b", "https://a.example.org", "GET", null, true)),
      Seq(("b", 0, Seq("https://*"), Seq("GET"), Seq.empty, Seq.empty,
        Some(1)),
        ("b", 1, Seq("https://a.example.org"), Seq("GET"), Seq.empty,
          Seq.empty, Some(2)))).head
    assert(r4.getAs[Int]("rule_idx") == 0 && r4.getAs[Int]("max_age") == 1)
  }

  test("placement selector: Q48 exact vectors, golden rank order, rendezvous invariants (selector.rs)") {
    val Q48One = 1L << 48
    // neg_log2_exact_vectors
    assert(Placement.negLog2Q48(1L << 62) == 2 * Q48One)
    assert(Placement.negLog2Q48(Long.MinValue) == Q48One) // 1<<63 as u64
    assert(Placement.negLog2Q48(1L) == 64 * Q48One)
    val mx = Placement.negLog2Q48(-1L) // u64::MAX
    assert(mx > 0 && mx < Q48One)
    // float-reference parity to 1e-9 (selector.rs neg_log2_matches_float)
    var worst = 0.0
    (1L to 4096L).foreach { c =>
      val h = java.util.Arrays.hashCode(Array(c)) .toLong * 2654435761L | 1L
      val fixed = Placement.negLog2Q48(h).toDouble / math.pow(2, 48)
      val u = if (h >= 0) h.toDouble else h.toDouble + math.pow(2, 64)
      val ref = -(math.log(u / math.pow(2, 64)) / math.log(2))
      worst = math.max(worst, math.abs(fixed - ref))
    }
    assert(worst < 1e-9, s"worst=$worst")
    // monotone: larger u64 -> smaller neg-log
    assert(Placement.negLog2Q48(3L) >= Placement.negLog2Q48(7L))

    // rank_weighted_golden_order (selector.rs): blake3 path, byte-for-byte
    val ids = (1 to 6).map(i => Array.fill[Byte](32)(i.toByte))
    val weights = Seq(100L, 100L, 100L, 300L, 50L, 200L)
    val order = Placement.rankWeighted(Placement.RoleNode,
      "golden-subject".getBytes("UTF-8"), ids.zip(weights))
    assert(order == Seq(0, 5, 3, 4, 2, 1))

    // zero weight ranks after positive; removal preserves relative order
    val cands = Seq(("a", 0L), ("b", 50L), ("c", 100L), ("d", 25L))
      .map { case (s, w) => (s.getBytes("UTF-8"), w) }
    val o2 = Placement.rankWeighted(Placement.RoleNode, "s".getBytes, cands)
    assert(o2.last == 0, "zero-weight candidate must rank last")
    val full = o2.map(i => new String(cands(i)._1))
    val reduced = Placement.rankWeighted(Placement.RoleNode, "s".getBytes,
      cands.patch(1, Nil, 1)).map(i =>
      new String(cands.patch(1, Nil, 1)(i)._1))
    assert(reduced == full.filter(_ != "b"))
  }

  test("placement resolver: pins lead, exclusion beats pin, distinct locations, W_loc ignores availability (resolver.rs:88-162,268-270)") {
    def nodes(rows: (String, String, String, Int, Boolean, Boolean,
        Map[String, String])*) =
      rows.toDF("node_id", "kind", "location", "weight", "full",
        "draining", "labels")
    val view = nodes(
      ("n1", "Server", "a", 100, false, false, Map("tier" -> "ssd")),
      ("n2", "Server", "a", 100, true, false, Map("tier" -> "ssd")),
      ("n3", "Server", "b", 100, false, false, Map("tier" -> "hdd")),
      ("n4", "Server", "b", 100, false, true, Map("tier" -> "ssd")),
      ("n5", "User", "c", 900, false, false, Map("tier" -> "ssd")),
      ("n6", "Server", "c", 100, false, false, Map("tier" -> "ssd")))
    val subs = Seq("s1").toDF("subject")

    // replica None takes every eligible node (n1, n3, n6)
    val all = Placement.resolveHolders(subs, view,
      Placement.Strategy(None, distinctLocations = false))
      .collect().map(_.getString(2)).toSet
    assert(all == Set("n1", "n3", "n6"))

    // pins lead in override order; exclusion wins over a pin; a full
    // node's pin is unavailable
    val ov = Seq(("s1", Seq("n6", "n2", "n3"), Seq("n3")))
      .toDF("subject", "pinned", "excluded")
    val pinned = Placement.resolveHolders(subs, view,
      Placement.Strategy(Some(2), distinctLocations = false), ov)
      .orderBy("rank").collect()
    assert(pinned.map(_.getString(2)).head == "n6")
    assert(pinned.head.getString(4) == "pin")
    assert(pinned.length == 2 &&
      !pinned.map(_.getString(2)).contains("n3") &&
      !pinned.map(_.getString(2)).contains("n2"))

    // distinct_locations: one holder per location, pin locations seen
    val ov2 = Seq(("s1", Seq("n6"), Seq.empty[String]))
      .toDF("subject", "pinned", "excluded")
    val dl = Placement.resolveHolders(subs, view,
      Placement.Strategy(Some(3), distinctLocations = true), ov2)
      .orderBy("rank").collect()
    assert(dl.map(_.getString(2)).head == "n6")
    val locs = dl.map(_.getString(3))
    assert(locs.distinct.length == locs.length, "locations must be distinct")

    // filter affinity restricts to matching labels (tier=ssd -> n1, n6)
    val filt = Placement.resolveHolders(subs, view,
      Placement.Strategy(None, distinctLocations = false,
        affinity = Seq(("tier", "ssd", "filter", 0))))
      .collect().map(_.getString(2)).toSet
    assert(filt == Set("n1", "n6"))

    // multiply affinity: permille 0 zeroes the weight -> unavailable
    val mul = Placement.resolveHolders(subs, view,
      Placement.Strategy(None, distinctLocations = false,
        affinity = Seq(("tier", "hdd", "multiply", 0))))
      .collect().map(_.getString(2)).toSet
    assert(mul == Set("n1", "n6"), "hdd node zeroed out")
  }

  test("job drain: budget walk, fresh-cancel, lease sweep ladder (jobs/drain.rs tests re-expressed)") {
    val now = 10000L
    def rec(id: String, state: String = "Queued", owner: String = "self",
        cls: String = "InProcess", cancel: Boolean = false,
        hasRun: Boolean = false, intent: String = null, attempts: Long = 0L,
        lease: java.lang.Long = null, payload: String = "Execution") =
      (id, state, owner, cls, cancel, hasRun, intent, attempts,
        lease, payload)
    val cols = Seq("job_id", "state", "owner", "exec_class",
      "cancel_requested", "has_run", "attempt_intent", "attempts",
      "lease_expires_at_ms", "payload")
    def run(due: Seq[(Long, String)], leases: Seq[(Long, String)],
        records: Seq[(String, String, String, String, Boolean, Boolean,
          String, Long, java.lang.Long, String)],
        ip: Int = 8, ext: Int = 8) =
      JobDrain.drain(due.toDF("due_ts", "job_id"),
        leases.toDF("lease_ts", "job_id"), records.toDF(cols: _*),
        "self", ip, ext, now)
        .collect().map(r => (r.getString(2), r.getString(3), r)).toSeq

    // claims_up_to_capacity + skips_saturated_class: 3 due in-process
    // jobs against budget 2 -> 2 claims, 1 saturated skip, deferred flag
    val r1 = run(
      due = Seq((100L, "j1"), (200L, "j2"), (300L, "j3"), (400L, "x1")),
      leases = Nil,
      records = Seq(rec("j1"), rec("j2"), rec("j3"),
        rec("x1", cls = "ExternalAttempt")),
      ip = 2)
    assert(r1.filter(_._2 == "claimed").map(_._1) == Seq("j1", "j2", "x1"))
    assert(r1.find(_._1 == "j3").get._2 == "skipped_saturated")
    assert(r1.head._3.getAs[Boolean]("deferred_saturated"))

    // the scan STOPS once both budgets are spent: rows after the cut are
    // not processed (j3 after x1's claim emptied the last slot)
    val r2 = run(
      due = Seq((100L, "j1"), (200L, "x1"), (300L, "j3")),
      leases = Nil,
      records = Seq(rec("j1"), rec("j3"),
        rec("x1", cls = "ExternalAttempt")),
      ip = 1, ext = 1)
    assert(r2.map(_._1).toSet == Set("j1", "x1"))

    // empty_budget_defers: nothing processed, flag set
    val r3 = run(due = Seq((100L, "j1")), leases = Nil,
      records = Seq(rec("j1")), ip = 0, ext = 0)
    assert(r3.isEmpty)

    // drops_foreign_rows + future rows end the scan + fresh cancel
    val r4 = run(
      due = Seq((100L, "f1"), (200L, "c1"), (99000L, "j9")),
      leases = Nil,
      records = Seq(rec("f1", owner = "other"),
        rec("c1", cancel = true), rec("j9")))
    assert(r4.find(_._1 == "f1").get._2 == "foreign_dropped")
    assert(r4.find(_._1 == "c1").get._2 == "cancelled_fresh")
    assert(!r4.exists(_._1 == "j9"), "future row must not process")
    // a cancel AFTER a run (has_run) claims normally (claim_job guard)
    val r5 = run(due = Seq((100L, "c2")), leases = Nil,
      records = Seq(rec("c2", cancel = true, hasRun = true)))
    assert(r5.find(_._1 == "c2").get._2 == "claimed")

    // expired_lease_requeued with backoff; attempt cap terminalizes;
    // TerminalCleanup exempt; external intent reconciled; future/renewed
    // lease kept; orphan row heals
    val r6 = run(
      due = Nil,
      leases = Seq((100L, "e1"), (110L, "e2"), (120L, "e3"),
        (130L, "e4"), (140L, "e5"), (150L, "gone")),
      records = Seq(
        rec("e1", state = "Running", attempts = 1L, lease = 100L),
        rec("e2", state = "Running", attempts = 4L, lease = 110L),
        rec("e3", state = "Running", attempts = 4L, lease = 120L,
          payload = "TerminalCleanup"),
        rec("e4", state = "Running", cls = "ExternalAttempt",
          intent = "submitted", attempts = 0L, lease = 130L),
        rec("e5", state = "Running", attempts = 0L, lease = 99000L)))
    val byId = r6.map(t => t._1 -> t).toMap
    assert(byId("e1")._2 == "requeued" &&
      byId("e1")._3.getAs[Long]("attempts_after") == 2L &&
      byId("e1")._3.getAs[Long]("due_after_ms") == now + 1000L) // 250*2^2
    assert(byId("e2")._2 == "failed_capped" &&
      byId("e2")._3.getAs[Long]("attempts_after") == 5L)
    assert(byId("e3")._2 == "requeued", "TerminalCleanup exempt from cap")
    assert(byId("e4")._2 == "reconciled")
    assert(byId("e5")._2 == "skipped", "renewed lease kept")
    assert(byId("gone")._2 == "orphan_healed")
    // trailer: lease head is already-due -> re-arm floor 20s
    assert(byId("e1")._3.getAs[Long]("next_due_after_ms") == 20000L)
  }

  test("connector validation: reference test table (connectors/validation.rs tests; endpoint.rs tests)") {
    // endpoint.rs: rejects_respelled_hosts / accepts_plain_endpoints
    val respelled = Seq("2852039166", "0xa9fea9fe", "169.254.169.254.",
      "127.1", "2851995650", "0251.0376.0251.0376")
      .map(h => s"https://$h")
    val plain = Seq("https://s3.example.com", "https://s3.example.com/",
      "https://minio.example.com:9000", "https://s3.example.com/prefix",
      "http://169.254.169.254")
    val eps = (respelled.map((_, false)) ++ plain.map((_, true)))
    val got = eps.map(_._1).toDF("e")
      .select(col("e"), Connectors.isCanonical(col("e")).as("c"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    eps.foreach { case (e, want) =>
      assert(got(e) == want, s"isCanonical($e) should be $want")
    }
    assert(Seq("b/ad", "b\\ad", "b?ad", "b#ad", "b@ad").forall { b =>
      Seq(b).toDF("b").select(Connectors.breaksAuthority(col("b")))
        .collect().head.getBoolean(0)
    })

    def run(name: String, kind: String, pub: Seq[(String, String)],
        sec: Seq[(String, String)]): (String, String) = {
      val df = Seq((1L, name, kind)).toDF("req_id", "name", "kind")
        .withColumn("pub",
          if (pub.isEmpty) filter(array(struct(lit("x").as("k"),
            lit("x").as("v"))), _ => lit(false))
          else array(pub.map { case (k, v) =>
            struct(lit(k).as("k"), lit(v).as("v")) }: _*))
        .withColumn("sec",
          if (sec.isEmpty) filter(array(struct(lit("x").as("k"),
            lit("x").as("v"))), _ => lit(false))
          else array(sec.map { case (k, v) =>
            struct(lit(k).as("k"), lit(v).as("v")) }: _*))
      val r = Connectors.validate(df).collect().head
      (r.getString(3), r.getString(4))
    }
    val okS3 = Seq("bucket" -> "b", "endpoint" -> "https://s3.example.com")
    val creds = Seq("access_key_id" -> "ak", "secret_access_key" -> "sk")

    assert(run("  ", "S3", okS3, creds)._1 == "empty_name")
    assert(run("c", "Ftp", Seq("endpoint" -> "https://x.example.com"),
      Nil)._1 == "unsupported_kind")
    assert(run("c", "S3", okS3 :+ ("color" -> "red"), creds) ==
      ("unknown_public_key", "color"))
    assert(run("c", "S3", Seq("endpoint" -> "https://s3.example.com"),
      creds) == ("missing_required_public_key", "bucket"))
    assert(run("c", "Http", Seq("endpoint" -> "https://x.example.com"),
      Seq("apikey" -> "k")) == ("unknown_secret_key", "apikey"))
    // accepts_skip_signature: anonymous S3 without credentials is valid
    assert(run("c", "S3", okS3 :+ ("skip_signature" -> "true"),
      Nil)._1 == "ok")
    // skip_forbids_credentials
    assert(run("c", "S3", okS3 :+ ("skip_signature" -> "true"),
      creds)._1 == "credentials_with_skip_signature")
    // signed_requires_credentials (+ explicit false)
    assert(run("c", "S3", okS3 :+ ("skip_signature" -> "false"),
      Nil)._1 == "missing_credentials")
    assert(run("c", "S3", okS3, Nil)._1 == "missing_credentials")
    // requires_both_keys
    assert(run("c", "S3", okS3,
      Seq("access_key_id" -> "ak"))._1 == "missing_credentials")
    // empty values precede key checks; bool parse; unsafe bucket
    assert(run("c", "S3", okS3 :+ ("region" -> " "), creds) ==
      ("empty_public_value", "region"))
    assert(run("c", "S3", okS3 :+ ("skip_signature" -> "yes"),
      creds)._1 == "invalid_bool_value")
    assert(run("c", "S3", Seq("bucket" -> "b@d",
      "endpoint" -> "https://s3.example.com"), creds)._1 ==
      "unsafe_bucket")
    // Http needs no secrets at all
    assert(run("c", "Http", Seq("endpoint" -> "https://x.example.com"),
      Nil)._1 == "ok")
  }

  test("event routing: self-add admin-only, affected-admin membership record, removal targets affected only (notifications/routing.rs tests)") {
    val roles = Seq(("g1", "admin", "a1"), ("g1", "admin", "a2"),
      ("g1", "admin", "a1"), // duplicate assignment dedupes
      ("g1", "member", "m1"))
      .toDF("group_id", "role_name", "user_id")
    val realmRoles = Seq(("r1", "realm_admin", "a1"), ("r1", "viewer", "v1"))
      .toDF("realm_id", "role_name", "user_id")
    def route(kind: String, affected: String, actor: String) =
      Notifications.routeResourceEvents(
        Seq((1L, kind, "g1", "r1", affected, actor, 5L))
          .toDF("event_id", "kind", "group_id", "realm_id",
            "affected_user", "actor_user_id", "occurred_at_ms"),
        roles, realmRoles)
        .collect().map(r => (r.getString(1), r.getString(2))).sorted.toSeq

    // added_event_targets_affected_user_and_admins
    assert(route("member_added", "m2", "m1") ==
      Seq(("a1", "group_member_added"), ("a2", "group_member_added"),
        ("m2", "added_to_group")))
    // self_add_produces_admin_records_only
    assert(route("member_added", "m2", "m2") ==
      Seq(("a1", "group_member_added"), ("a2", "group_member_added")))
    // affected_admin_gets_membership_not_admin_record (a1 affected:
    // excluded from the admin fan-out, gets only added_to_group)
    assert(route("member_added", "a1", "m1") ==
      Seq(("a1", "added_to_group"), ("a2", "group_member_added")))
    // actor admin excluded from admin fan-out
    assert(route("member_added", "m2", "a2") ==
      Seq(("a1", "group_member_added"), ("m2", "added_to_group")))
    // removed_event_targets_affected_user_only
    assert(route("member_removed", "m1", "a1") ==
      Seq(("m1", "removed_from_group")))
    // node_onboarded reaches realm admins only
    assert(route("node_onboarded", "x", "x") ==
      Seq(("a1", "node_onboarded")))
  }

  test("hidden sweep: upload liveness, referenced union, orphan ladder (blob/hidden.rs:161-224)") {
    val now = 10000000L
    val jobs = Seq(
      ("jA", "Running", true, null), // active rocrate
      ("jT", "Failed", true, "ha-art"), // terminal, artifact still refs
      ("jP", "Queued", false, null)) // active plain
      .toDF("job_id", "state", "is_rocrate", "artifact_key")
    val ck = Seq(("jA", "hc-a"), ("jT", "hc-t")) // jT terminal -> hc-t NOT referenced
      .toDF("job_id", "hidden_key")
    val uploads = Seq(
      ("u1", "hu-1", "jA", 0L), // claimed by active -> live (expiry ignored)
      ("u2", "hu-2", "jT", now + 99999L), // claimed by terminal -> dead
      ("u3", "hu-3", null, now + 1L), // unclaimed, unexpired -> live
      ("u4", "hu-4", null, now)) // unclaimed, expired -> dead
      .toDF("upload_id", "hidden_key", "claimed_by", "expires_at_ms")
    val old = now - 7200000L
    val hidden = Seq(
      ("ha-art", null, Some(old)), // referenced via terminal job's artifact
      ("hc-a", null, Some(old)), // referenced via active rocrate checkpoint
      ("hc-t", null, Some(old)), // checkpoint of TERMINAL job -> orphan
      ("hu-1", null, Some(old)), // live upload -> referenced
      ("hu-4", null, Some(old)), // dead upload -> orphan
      ("hn-x", "jA", Some(old)), // unreferenced, namespace active rocrate
      ("hn-p", "jP", Some(old)), // namespace active but NOT rocrate
      ("hg-1", null, Some(now - 1000L)), // young -> grace
      ("hg-2", null, Option.empty[Long])) // no mtime -> kept
      .toDF("hidden_key", "namespace_job_id", "modified_at_ms")
    val out = HiddenSweep.sweep(jobs, ck, uploads, hidden, now)
      .collect().map(r => r.getString(1) -> r.getString(3)).toMap
    assert(out("u1") == "live_claimed")
    assert(out("u2") == "deleted")
    assert(out("u3") == "live_unclaimed")
    assert(out("u4") == "deleted")
    assert(out("ha-art") == "kept_referenced")
    assert(out("hc-a") == "kept_referenced")
    assert(out("hc-t") == "orphan_deleted")
    assert(out("hu-1") == "kept_referenced")
    assert(out("hu-4") == "orphan_deleted")
    assert(out("hn-x") == "kept_active_namespace")
    assert(out("hn-p") == "orphan_deleted")
    assert(out("hg-1") == "kept_grace")
    assert(out("hg-2") == "kept_no_mtime")
  }

  test("storage routing: ladder order, binding vs preference, reserved classes, egress (core routing.rs:330-517)") {
    val catalog = Seq(
      ("default", Option.empty[String], true, false),
      ("a-hot", Some("hot"), true, false),
      ("b-hot", Some("hot"), true, false),
      ("full-1", Some("cap"), true, true),
      ("res-1", Some("archive"), false, false))
      .toDF("name", "clazz", "allow_tenants", "full")
    val gb = Seq(("g1", "gbx")).toDF("group_id", "backend_id")
    def run(key: String, group: String,
        brs: Seq[(String, Int, String, Boolean, String, String)],
        gds: Seq[(String, String, String)] = Nil,
        nrs: Seq[(Int, Option[String], Option[String], Option[String],
          String, String)] = Nil,
        egress: Boolean = true) = {
      val r = Routing.resolve(
        Seq((1L, group, "b", key)).toDF("req_id", "group_id", "bucket",
          "key"),
        brs.toDF("bucket", "rule_idx", "key_prefix", "exact", "kind",
          "target"),
        gds.toDF("group_id", "kind", "target"),
        nrs.toDF("rule_idx", "group_id", "bucket", "key_prefix", "kind",
          "target"),
        catalog, gb, "default", egress).collect().head
      (r.getString(4), r.getString(5), r.getString(6))
    }
    // exact beats longer prefix; class resolves FIRST name order (a-hot)
    assert(run("k1", "g1", Seq(
      ("b", 0, "k1", true, "class", "hot"),
      ("b", 1, "k1", false, "node", "default"))) == ("ok", null, "a-hot"))
    // longest prefix wins; record order breaks length ties
    assert(run("xy/z", "g1", Seq(
      ("b", 0, "x", false, "node", "default"),
      ("b", 1, "xy/", false, "node", "a-hot"),
      ("b", 2, "xy/", false, "node", "b-hot"))) == ("ok", null, "a-hot"))
    // named backend is BINDING: a full one aborts even with fallbacks below
    assert(run("k", "g1", Seq(
      ("b", 0, "k", false, "node", "full-1"),
      ("b", 1, "", false, "node", "a-hot")))._2 == "backend_full")
    assert(run("k", "g1", Seq(
      ("b", 0, "k", false, "node", "nope")))._2 == "unknown_backend")
    // a class MISS falls through (all-cap class full; reserved for tenant)
    assert(run("k", "g1", Seq(
      ("b", 0, "k", false, "class", "cap"),
      ("b", 1, "k", false, "class", "archive"),
      ("b", 2, "", false, "node", "b-hot"))) == ("ok", null, "b-hot"))
    // operator rules MAY bind reserved classes
    assert(run("ops/k", "g1", Nil, Nil,
      Seq((0, None, Some("b"), Some("ops/"), "class", "archive"))) ==
      ("ok", null, "res-1"))
    // group backend: registration is per-group; egress kill-switch
    assert(run("k", "g1", Seq(
      ("b", 0, "k", false, "group", "gbx"))) == ("ok", null, "group:gbx"))
    assert(run("k", "g2", Seq(
      ("b", 0, "k", false, "group", "gbx")))._2 ==
      "unknown_group_backend")
    assert(run("k", "g1", Seq(
      ("b", 0, "k", false, "group", "gbx")), egress = false)._2 ==
      "group_egress_disabled")
    // group default (tier 2) beats operator rules (tier 3); specificity
    // orders operator rules (2 fields beat 1)
    assert(run("k", "g1", Nil, Seq(("g1", "node", "b-hot")),
      Seq((0, Some("g1"), Some("b"), None, "node", "a-hot"))) ==
      ("ok", null, "b-hot"))
    assert(run("k", "g1", Nil, Nil, Seq(
      (0, Some("g1"), None, None, "node", "b-hot"),
      (1, Some("g1"), Some("b"), None, "node", "a-hot"))) ==
      ("ok", null, "a-hot"))
    // nothing matches -> node default
    assert(run("k", "g3", Nil) == ("ok", null, "default"))
  }

  test("onboarding claims: idempotent consume, reservation steal, expiry escapes (reserve/consume_onboarding_secret.rs tests)") {
    val now = 1000L
    def store(state: String, node: String, recExp: Long = 9999L,
        resExp: java.lang.Long = null) =
      Seq(("e1", "h1", recExp, state, node, resExp))
        .toDF("enrollment_id", "secret_hash", "expires_at", "state",
          "state_node", "state_expires_at")
    def run(op: String, node: String, hash: String, st: DataFrame) =
      Onboarding.decide(
        Seq((1L, "e1", op, node, hash))
          .toDF("req_id", "enrollment_id", "op", "node_id", "secret_hash"),
        st, now, now + 100L).collect().head
    def v(op: String, node: String, hash: String, st: DataFrame): String =
      run(op, node, hash, st).getString(4)

    // claims_secret_idempotently_for_same_node: consumed_now true then false
    val avail = store("Available", null)
    val r1 = run("consume", "nA", "h1", avail)
    assert(r1.getString(4) == "consumed" && r1.getBoolean(5))
    val r2 = run("consume", "nA", "h1", store("Consumed", "nA"))
    assert(r2.getString(4) == "ok_idempotent" && !r2.getBoolean(5))
    assert(v("consume", "nB", "h1", store("Consumed", "nA")) ==
      "already_claimed")

    // reserve: steal an EXPIRED foreign reservation, refuse a live one
    assert(v("reserve", "nB", "h1",
      store("Reserved", "nA", resExp = 500L)) == "reserved")
    assert(v("reserve", "nB", "h1",
      store("Reserved", "nA", resExp = 2000L)) == "already_claimed")
    // ...but not when the record itself expired
    assert(v("reserve", "nB", "h1",
      store("Reserved", "nA", recExp = 500L, resExp = 400L)) == "expired")
    // same-node re-reserve skips the record-expiry check entirely
    assert(v("reserve", "nA", "h1",
      store("Reserved", "nA", recExp = 500L, resExp = 2000L)) == "reserved")

    // consume on an expired record: only the mid-handshake holder escapes
    assert(v("consume", "nA", "h1",
      store("Reserved", "nA", recExp = 500L, resExp = 2000L)) == "consumed")
    assert(v("consume", "nA", "h1",
      store("Reserved", "nA", recExp = 500L, resExp = 400L)) == "expired")
    assert(v("consume", "nA", "h1",
      store("Finalizing", "nA", recExp = 500L)) == "consumed")
    assert(v("consume", "nB", "h1",
      store("Available", null, recExp = 500L)) == "expired")
    // consume checks expiry BEFORE the hash; reserve checks hash first
    assert(v("consume", "nB", "bad",
      store("Available", null, recExp = 500L)) == "expired")
    assert(v("reserve", "nB", "bad",
      store("Available", null, recExp = 500L)) == "invalid_secret")
    // reserve idempotence on Finalizing/Consumed by the same node
    assert(v("reserve", "nA", "h1", store("Finalizing", "nA")) ==
      "ok_idempotent")
    assert(v("reserve", "nB", "h1", store("Finalizing", "nA")) ==
      "already_claimed")
  }

  test("head object: version ladder, marker-hidden heads, part count (head_object.rs:200-375)") {
    val versions = Seq(
      ("b", "k1", 10L, "v10", false, "e10", 100L),
      ("b", "k1", 20L, "v20", true, "e20", 0L), // marker head hides k1
      ("b", "k2", 30L, "v30", false, "e30", 300L),
      ("b", "k3", 40L, "v40", true, "e40", 0L),
      ("b", "k3", 50L, "v50", false, "e50", 500L)) // live head over marker
      .toDF("bucket", "key", "version_ord", "version_ulid",
        "is_delete_marker", "hash", "size")
    val summaries = Seq(("v30", 5)).toDF("version_ulid", "part_count")
    def run(key: String, vid: String) = ObjectOps.headObjects(versions,
      Seq(("r", "b", key, Option(vid)))
        .toDF("req_id", "bucket", "key", "version_id"),
      summaries).collect().head
    assert(run("k1", "v10").getString(1) == "ok") // versioned read under marker
    assert(run("k1", "v99").getString(1) == "no_such_version")
    assert(run("k1", "v20").getString(1) == "delete_marker") // explicit marker
    assert(run("k1", null).getString(1) == "no_such_key") // marker head hides
    assert(run("k3", null).getString(1) == "ok") // live head over old marker
    assert(run("kX", null).getString(1) == "no_such_key")
    val ok = run("k2", null)
    assert(ok.getString(2) == "v30" && ok.getString(3) == "e30" &&
      ok.getLong(4) == 300L && ok.getInt(5) == 5) // part_count joined
    assert(run("k1", "v10").isNullAt(5)) // non-multipart -> null
  }

  test("range resolve: grammar, clamps, saturation, invalids (get_object.rs:99-131)") {
    val versions = Seq(
      ("b", "k", 1L, "v1", false, "e", 10L), // len 10
      ("b", "z", 2L, "v2", false, "e", 0L)) // len 0
      .toDF("bucket", "key", "version_ord", "version_ulid",
        "is_delete_marker", "hash", "size")
    def run(key: String, raw: String) = ObjectOps.resolveRanges(versions,
      Seq(("r", "b", key, Option(raw)))
        .toDF("req_id", "bucket", "key", "range_raw")).collect().head
    def ok(raw: String) = {
      val r = run("k", raw)
      assert(r.getString(3) == "partial", raw)
      (r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7))
    }
    // reference: StartEnd{2,5} on len 10 -> bytes 2-5/10, length 4
    assert(ok("bytes=2-5") == (2L, 5L, 4L, "bytes 2-5/10"))
    // end clamps to len-1
    assert(ok("bytes=8-999") == (8L, 9L, 2L, "bytes 8-9/10"))
    assert(ok("bytes=3-") == (3L, 9L, 7L, "bytes 3-9/10"))
    // suffix saturates to the whole object
    assert(ok("bytes=-4") == (6L, 9L, 4L, "bytes 6-9/10"))
    assert(ok("bytes=-999") == (0L, 9L, 10L, "bytes 0-9/10"))
    // unsatisfiable_range_errors
    assert(run("k", "bytes=5-2").getString(3) == "invalid_range")
    assert(run("k", "bytes=10-").getString(3) == "invalid_range")
    assert(run("k", "bytes=10-12").getString(3) == "invalid_range")
    assert(run("k", "bytes=-0").getString(3) == "invalid_range")
    // zero-length object rejects every range, even a syntactic no-op
    assert(run("z", "bytes=0-0").getString(3) == "invalid_range")
    // unknown syntax is ignored -> full read; absent range -> full
    assert(run("k", "bytes=five").getString(3) == "full")
    val full = run("k", null)
    assert(full.getString(3) == "full" && full.getLong(6) == 10L)
    assert(run("nope", "bytes=0-1").getString(3) == "no_such_key")
  }

  test("composite checksums: raw-bytes golden vector, -N grammar (complete_multipart_upload.rs:1465-1503; checksum.rs:261-268,400-422)") {
    // the classic two-part md5 composite ("hello" + "world" parts)
    assert(Checksums.compositeMd5Hex(Seq(
      "5d41402abc4b2a76b9719d911017c592",
      "7d793037a0760186574b0282f2f435e7")) ==
      "065947336a2f2a95ba8899f3675c3be6")
    // single part still hashes the digest (composite != part digest)
    assert(Checksums.compositeMd5Hex(
      Seq("5d41402abc4b2a76b9719d911017c592")) !=
      "5d41402abc4b2a76b9719d911017c592")

    val parts = Seq(("u1", 2, "bb"), ("u1", 1, "aa"), ("u1", 10, "cc"))
      .toDF("upload_id", "part_number", "digest_hex")
    def v(declared: String): String = Checksums.verify(parts,
      Seq(("u1", declared)).toDF("upload_id", "declared"))
      .collect().head.getString(4)
    val comp = Checksums.verify(parts,
      Seq(("u1", "x")).toDF("upload_id", "declared"))
      .collect().head.getString(2)
    // numeric part order (1,2,10), not lexicographic
    assert(v(comp + "-3") == "ok")
    assert(v(comp) == "ok") // no count declared -> count check skipped
    assert(v(comp + "-2") == "checksum_mismatch") // wrong count
    assert(v(comp + "-") == "invalid_digest") // empty suffix
    assert(v(comp + "-3x") == "invalid_digest") // non-digit suffix
    assert(v("ffff-3") == "checksum_mismatch") // digest mismatch
    assert(Checksums.verify(parts,
      Seq(("uX", comp)).toDF("upload_id", "declared"))
      .collect().head.getString(4) == "no_such_upload")
  }

  test("strategy-ref repair ladder (admin_document_reducer.rs:300-339)") {
    val live = Seq(("rA", "S0"), ("rA", "S2")).toDF("realm", "strategy_id")
    val defaults = Seq(("rA", "S9"), ("rB", "S0"),
      ("rC", null.asInstanceOf[String])).toDF("realm", "strategy_id")
    val bindings = Seq(("rA", "b0", "S2"), ("rA", "b1", "S7"),
      ("rB", "b0", "S0")).toDF("realm", "scope", "strategy_id")
    val overrides = Seq(("rA", "o0", "S9"), ("rA", "o1", null),
      ("rB", "o0", "S0"), ("rB", "o1", null))
      .toDF("realm", "subject", "strategy_id")
    val got = PlacementAdmin.repairStrategyRefs(live, defaults, bindings,
        overrides)
      .orderBy("realm", "kind", "key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5))).toSeq
    assert(got == Seq(
      // rA: fallback = min live id S0
      ("rA", "binding", "b0", "S2", "S2", "kept"),
      ("rA", "binding", "b1", "S7", "S0", "repaired"),
      ("rA", "default", "-", "S9", "S0", "repaired"),
      ("rA", "override", "o0", "S9", "S0", "repaired"),
      ("rA", "override", "o1", null, null, "kept"),
      // rB: no live strategies -> clear / remove / null
      ("rB", "binding", "b0", "S0", null, "removed"),
      ("rB", "default", "-", "S0", null, "cleared"),
      ("rB", "override", "o0", "S0", null, "nulled"),
      ("rB", "override", "o1", null, null, "kept"),
      // rC: a missing default also repairs... to nothing live here
      ("rC", "default", "-", null, null, "cleared")))
  }

  test("usage delta apply == direct rebuild (UsageCounterUpdate::step)") {
    val base = Seq(("g1", 2L, 300L)).toDF("group_id", "stored_blobs", "stored_bytes")
    val deltas = Seq(("g1", 1L, 100L), ("g1", 1L, 50L), ("g2", 1L, 10L))
      .toDF("group_id", "d_blobs", "d_bytes")
    val merged = UsageStats.applyDeltas(base, deltas)
      .orderBy("group_id").collect().map(_.toSeq).toSeq
    assert(merged == Seq(Seq("g1", 4L, 450L), Seq("g2", 1L, 10L)))
  }

  test("reference refresh: stale never rolls back, equal timestamp is stale, preservation on refresh") {
    val versions = Seq(
      ("b", "k1", 0L, "reference", 100L, 7L, "mt", 10L),
      ("b", "k2", 0L, "reference", 100L, 8L, "mt", 20L),
      ("b", "k3", 0L, "materialized", 100L, 9L, "mt", 30L))
      .toDF("bucket", "key", "version_id", "state", "last_refresh",
        "created_at", "meta_tag", "content_length")
    val refreshes = Seq(
      ("b", "k1", 0L, 150L, 11L),  // newer -> applies, created_at kept
      ("b", "k2", 0L, 100L, 12L),  // EQUAL timestamp -> stale
      ("b", "k3", 0L, 150L, 13L),  // materialized meanwhile -> skip
      ("b", "k4", 0L, 150L, 14L))  // no version row
      .toDF("bucket", "key", "version_id", "refreshed_at",
        "new_content_length")
    val got = ObjectOps.refreshReference(versions, refreshes)
      .collect().map(r => r.getString(1) -> r).toMap
    val k1 = got("k1")
    assert(k1.getAs[String]("verdict") == "refreshed" &&
      k1.getAs[Long]("last_refresh_out") == 150L &&
      k1.getAs[Long]("content_length_out") == 11L &&
      k1.getAs[Long]("created_at_out") == 7L &&
      k1.getAs[String]("meta_tag_out") == "mt", k1.toString)
    val k2 = got("k2")
    assert(k2.getAs[String]("verdict") == "stale" &&
      k2.getAs[Long]("content_length_out") == 20L &&
      k2.getAs[Long]("last_refresh_out") == 100L, k2.toString)
    assert(got("k3").getAs[String]("verdict") == "not_reference")
    assert(got("k4").getAs[String]("verdict") == "missing_version")
  }

  test("job submit: dedup short-circuit vs conflict, ghost rows fall through, zero cap rejects") {
    def ns: String = null
    val subs = Seq(
      ("s1", "u1", "dk1", "pdA", java.lang.Long.valueOf(5L)), // existing
      ("s2", "u1", "dk1", "pdB", java.lang.Long.valueOf(5L)), // conflict
      ("s3", "u1", "dk2", "pdA", java.lang.Long.valueOf(5L)), // ghost -> created
      ("s4", "u2", ns, "pdA", java.lang.Long.valueOf(0L)),    // zero cap
      ("s5", "u3", ns, "pdA", java.lang.Long.valueOf(2L)),    // at cap
      ("s6", "u3", ns, "pdA", null.asInstanceOf[java.lang.Long])) // no cap
      .toDF("sub_id", "user_id", "dedup_key", "plan_digest", "active_cap")
    val idx = Seq(("dk1", "j1", "pdA", true), ("dk2", "j2", "pdA", true))
      .toDF("dedup_key", "job_id", "digest", "parseable")
    val jobs = Seq(("j1", true)).toDF("job_id", "decodable") // j2 is gone
    val active = Seq(("u3", 2L)).toDF("user_id", "n_active")
    val got = JobSubmit.fold(subs, idx, jobs, active)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("s1").getAs[String]("outcome") == "existing" &&
      got("s1").getAs[String]("existing_job_id") == "j1")
    assert(got("s2").getAs[String]("outcome") == "plan_conflict")
    assert(got("s3").getAs[String]("outcome") == "created" &&
      got("s3").getAs[Boolean]("dedup_ghost") &&
      got("s3").getAs[Boolean]("dedup_repointed"))
    assert(got("s4").getAs[String]("outcome") == "active_limit")
    assert(got("s5").getAs[String]("outcome") == "active_limit")
    assert(got("s6").getAs[String]("outcome") == "created" &&
      !got("s6").getAs[Boolean]("dedup_repointed"))
  }

  test("genesis ladder: rank-0 split-brain avoidance, failed adopts withhold, members never mint") {
    val topics = Seq(
      // (topic, rank0, n_co, exists, known, unconfirmed, unreachable, lands)
      ("t1", true, 2L, true, false, false, false, true),   // topup
      ("t2", true, 0L, false, false, false, false, true),  // sole -> create
      ("t3", true, 2L, false, true, false, false, true),   // adopt lands
      ("t4", true, 2L, false, true, false, false, false),  // adopt fails: WITHHELD, never create
      ("t5", true, 2L, false, false, false, false, true),  // all confirmed unknown -> fresh
      ("t6", true, 2L, false, false, true, false, true),   // refused summary -> withheld
      ("t7", true, 2L, false, false, false, true, true),   // unreachable -> withheld
      ("t8", false, 2L, false, false, false, false, true), // member pulls
      ("t9", false, 2L, false, false, false, false, false),// pull pending
      ("t10", false, 0L, false, false, false, false, true))// member, no co-holders
      .toDF("topic_id", "rank0", "n_coholders", "exists_locally",
        "known_by_coholder", "unconfirmed", "group_unreachable", "lands")
    val got = PlacementTopics.genesisLadder(topics)
      .collect().map(r => r.getString(0) -> r).toMap
    val want = Map("t1" -> "membership_topup", "t2" -> "create_sole",
      "t3" -> "adopted", "t4" -> "withheld_adopt", "t5" -> "create_fresh",
      "t6" -> "withheld_probe", "t7" -> "withheld_probe", "t8" -> "pulled",
      "t9" -> "pull_pending", "t10" -> "member_skip")
    want.foreach { case (t, v) =>
      assert(got(t).getAs[String]("verdict") == v,
        s"$t: ${got(t)}") }
    assert(got("t1").getAs[Boolean]("any_withheld") &&
      got("t1").getAs[Boolean]("any_pull_pending"))
  }

  test("delete bucket: emptiness precedence objects > versions > uploads, rels removed only on delete") {
    val req = Seq("b1", "b2", "b3").map(Tuple1(_)).toDF("bucket")
    val bkt = Seq("b1", "b2").map(Tuple1(_)).toDF("bucket")
    // b1 has BOTH an object head and versions: the object arm wins
    val heads = Seq(("b1", "k")).toDF("bucket", "key")
    val vers = Seq(("b1", "k", 1L)).toDF("bucket", "key", "version_id")
    val ups = Seq.empty[(String, String)].toDF("upload_id", "bucket")
    val ro = Seq(("b2", "r1"), ("b1", "r2")).toDF("bucket", "rel_id")
    val ri = Seq(("b2", "r3")).toDF("bucket", "rel_id")
    val got = ObjectOps.deleteBuckets(req, bkt, heads, vers, ups, ro, ri)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got("b1").getAs[String]("verdict") == "not_empty_objects")
    assert(got("b2").getAs[String]("verdict") == "deleted" &&
      got("b2").getAs[Long]("n_rels_removed") == 2L)
    assert(got("b3").getAs[String]("verdict") == "not_found")
  }

  test("pool slice: ceil-half upper cut, earliest run wins ties, <2 bands yields no pool") {
    val spans = Seq(
      // s1: two 3-band free runs (ties) -> the FIRST span's run wins;
      // ceil(3/2)=2 -> upper cut at run_start + 2*1024
      (1L, 0L, 0L, 3 * 1024L), (1L, 1L, 50000L, 50000L + 3 * 1024L),
      // s2: one free band only -> no pool
      (2L, 0L, 0L, 2 * 1024L),
      // s3: a partial 1-byte overlap still blocks its band
      (3L, 0L, 0L, 4 * 1024L))
      .toDF("sc_id", "span_idx", "span_start", "span_end")
    val consumed = Seq(
      (2L, 1024L, 2048L),
      (3L, 2047L, 2049L)) // touches bands 1 and 2 -> free run = band 0 + band 3? no: 0 and 3 are separate singleton runs
      .toDF("sc_id", "c_start", "c_end")
    val got = HandlePool.transferSlices(spans, consumed)
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(got(1L) == (Some(2048L), Some(3 * 1024L)), got(1L).toString)
    assert(got(2L) == (None, None))
    // bands 1 (1024..2048) and 2 (2048..3072) both overlap [2047,2049):
    // remaining free bands 0 and 3 are singleton runs -> no pool
    assert(got(3L) == (None, None), got(3L).toString)
  }

  test("versions store is unique on (bucket, key, version_ulid)") {
    // cat15/goa1 build their request families in one pass and drop
    // duplicates globally; that equals the per-family distincts only
    // while every store key is unique
    val v = ObjectTables.versionsStore(spark, sf0001)
    val dups = v.groupBy("bucket", "key", "version_ulid").count()
      .filter(col("count") > 1)
    assert(v.count() > 0)
    assert(dups.count() === 0, dups.limit(5).collect().mkString(", "))
  }
}
