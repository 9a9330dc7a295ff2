package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.{IcebergTable, IcebergWriter}

/** Round-trip of the offline Iceberg v2 writer through the offline
  * reader: create → append → deleteWhere (positional tombstones) →
  * deleteInsert (the reference's incremental strategy as one
  * snapshot), with time travel across every commit. */
class IcebergWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private def ids(dir: String): Seq[Long] =
    IcebergTable.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq

  test("create/append/deleteWhere/deleteInsert round-trip with time travel") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_icewrite").toFile.getPath

    // snapshot 1: create
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    assert(ids(dir) == Seq(1L, 2L, 3L))

    // snapshot 2: append
    IcebergWriter.append(spark, dir,
      Seq((4L, "d"), (5L, "e")).toDF("id", "name"))
    assert(ids(dir) == Seq(1L, 2L, 3L, 4L, 5L))

    // snapshot 3: positional delete — no data file rewritten
    import org.apache.spark.sql.functions.col
    assert(IcebergWriter.deleteWhere(spark, dir, col("id") === 2L) == 1L)
    assert(ids(dir) == Seq(1L, 3L, 4L, 5L))
    // deleting nothing commits nothing
    assert(IcebergWriter.deleteWhere(spark, dir, col("id") === 99L) == 0L)

    // snapshot 4: delete+insert — id 4 replaced, id 6 added; the new
    // rows survive their own snapshot's tombstones (strictly-greater)
    IcebergWriter.deleteInsert(spark, dir,
      Seq((4L, "D2"), (6L, "f")).toDF("id", "name"), Seq("id"))
    assert(ids(dir) == Seq(1L, 3L, 4L, 5L, 6L))
    assert(IcebergTable.read(spark, dir)
      .filter(col("id") === 4L).select("name").collect()
      .map(_.getString(0)).toSeq == Seq("D2"))

    // time travel: snapshot ids are the sequence numbers
    assert(IcebergTable.readVersion(spark, dir, 1L).count() == 3)
    assert(IcebergTable.readVersion(spark, dir, 2L).count() == 5)
    assert(IcebergTable.readVersion(spark, dir, 3L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 4L, 5L))

    // the metadata chain is versioned with a hint file
    val md = IcebergTable.loadMetadata(dir)
    assert(md.formatVersion == 2)
    assert(md.snapshots.map(_.snapshotId) == Seq(1L, 2L, 3L, 4L))
    assert(md.lastSequenceNumber == 4L)

    // a second delete over the already-tombstoned table composes
    assert(IcebergWriter.deleteWhere(spark, dir, col("id") <= 3L) == 2L)
    assert(ids(dir) == Seq(4L, 5L, 6L))

    // compaction materializes the tombstones into fresh data files:
    // same live rows, zero delete files in the new snapshot, and time
    // travel across the compaction boundary still resolves
    IcebergWriter.compact(spark, dir, targetFiles = 1)
    assert(ids(dir) == Seq(4L, 5L, 6L))
    val md2 = IcebergTable.loadMetadata(dir)
    assert(md2.lastSequenceNumber == 6L)
    assert(IcebergTable.readVersion(spark, dir, 1L).count() == 3)
    assert(IcebergTable.readVersion(spark, dir, 5L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(4L, 5L, 6L))
  }

  test("appendStreamBatch is exactly-once under batch replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_icestream").toFile.getPath
    def batch(id: Long, v: String) = Seq((id, v)).toDF("id", "name")
    assert(IcebergWriter.appendStreamBatch(spark, dir, batch(1L, "a"), 0L))
    assert(IcebergWriter.appendStreamBatch(spark, dir, batch(2L, "b"), 1L))
    // a crash-restart replays the in-flight batch with the SAME id —
    // the committed-id property makes it a no-op, not a duplicate
    assert(!IcebergWriter.appendStreamBatch(spark, dir, batch(2L, "b"), 1L))
    assert(ids(dir) == Seq(1L, 2L))
    assert(IcebergWriter.appendStreamBatch(spark, dir, batch(3L, "c"), 2L))
    assert(ids(dir) == Seq(1L, 2L, 3L))
    assert(IcebergTable.loadMetadata(dir)
      .properties("graft.stream.last-batch-id") == "2")
  }

  test("expireSnapshots prunes history and deletes orphan files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dirF = Files.createTempDirectory("graft_iceexp").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    IcebergWriter.append(spark, dir, Seq((3L, "c")).toDF("id", "name"))
    IcebergWriter.deleteWhere(spark, dir, col("id") === 2L)
    // compaction rewrites the live set; the pre-compaction data files
    // become unreachable once their snapshots expire
    IcebergWriter.compact(spark, dir, targetFiles = 1)
    def dataFiles = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dirF, "data"))
        .filter(_.getName.endsWith(".parquet"))
    }
    val before = dataFiles.size
    IcebergWriter.expireSnapshots(dir, keepLast = 1)
    assert(ids(dir) == Seq(1L, 3L))
    assert(dataFiles.size < before)
    assert(dataFiles.size == 1) // the compacted layout only
    // the emptied commit directories went with their _SUCCESS markers
    val legs = new java.io.File(dirF, "data").listFiles().toSeq
    assert(legs.map(_.getName) ==
      Seq(dataFiles.head.getParentFile.getName), legs)
    val md = IcebergTable.loadMetadata(dir)
    assert(md.snapshots.map(_.snapshotId) == Seq(4L))
    intercept[Exception](IcebergTable.readVersion(spark, dir, 1L).count())
  }

  test("expireSnapshots deletes only what the expired snapshots reached") {
    import spark.implicits._
    val dirF = Files.createTempDirectory("graft_iceexp_pending").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    IcebergWriter.append(spark, dir, Seq((2L, "b")).toDF("id", "name"))
    IcebergWriter.append(spark, dir, Seq((3L, "c")).toDF("id", "name"))
    // a concurrent commit's legs land before its version is claimed:
    // a data file and a manifest that no snapshot references yet
    def under(sub: String, ext: String): java.io.File = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dirF, sub)).find(_.getName.endsWith(ext)).get
    }
    val pendingData = new java.io.File(dirF, "data/snap-pending/part.parquet")
    pendingData.getParentFile.mkdirs()
    Files.copy(under("data", ".parquet").toPath, pendingData.toPath)
    val pendingManifest =
      new java.io.File(dirF, "metadata/manifest-pending-d.avro")
    Files.copy(under("metadata", "-d.avro").toPath, pendingManifest.toPath)
    val lists = IcebergTable.loadMetadata(dir).snapshots
      .map(s => new java.io.File(s.manifestList))
    IcebergWriter.expireSnapshots(dir, keepLast = 1)
    assert(pendingData.isFile && pendingManifest.isFile)
    // only the expired snapshots' manifest lists went: the kept
    // snapshot still carries every manifest and data file forward
    assert(lists.map(_.isFile) == Seq(false, false, true))
    assert(ids(dir) == Seq(1L, 2L, 3L))
  }

  test("partitioned table: values injected at read, readWhere prunes files, " +
    "deletes and compaction respect the layout") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icepart").toFile.getPath
    val df = Seq(
      (1L, "us", 10.0), (2L, "us", 20.0),
      (3L, "eu", 30.0), (4L, "eu", 40.0), (5L, "ap", 50.0))
      .toDF("id", "region", "amount")
    IcebergWriter.create(spark, dir, df, partitionBy = Seq("region"))
    // the physical files lack `region`; the read injects it typed
    val back = IcebergTable.read(spark, dir)
    assert(back.schema("region").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(back.select("id", "region").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ==
      Seq((1L, "us"), (2L, "us"), (3L, "eu"), (4L, "eu"), (5L, "ap")))

    // manifest-level pruning: only the eu file is opened
    val eu = IcebergTable.readWhere(spark, dir,
      pv => pv.get("region").contains("eu"))
    assert(eu.inputFiles.length < back.inputFiles.length)
    assert(eu.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(3L, 4L))

    // tombstones on a partition-column predicate, then appends keep
    // the spec's layout, then compaction rewrites partitioned
    assert(IcebergWriter.deleteWhere(spark, dir, col("region") === "ap") == 1L)
    IcebergWriter.append(spark, dir,
      Seq((6L, "ap", 60.0)).toDF("id", "region", "amount"))
    IcebergWriter.compact(spark, dir)
    val fin = IcebergTable.read(spark, dir)
    assert(fin.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L, 3L, 4L, 6L))
    // post-compaction pruning still works (partition tuple re-recorded)
    assert(IcebergTable.readWhere(spark, dir,
      pv => pv.get("region").contains("us"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 2L))
  }

  test("appendEvolved adds trailing nullable columns; old files read NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_iceevo").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    IcebergWriter.appendEvolved(spark, dir,
      Seq((3L, "c", 0.9)).toDF("id", "name", "score"))
    val t = IcebergTable.read(spark, dir)
    assert(t.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(t.filter(col("score").isNull).count() == 2)
    assert(t.filter(col("id") === 3L).select("score")
      .collect().head.getDouble(0) == 0.9)
    // history re-reads under the CURRENT schema (iceberg semantics)
    assert(IcebergTable.readVersion(spark, dir, 1L)
      .schema.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(IcebergTable.loadMetadata(dir).currentSchemaId == 1)
    // non-extending batches are rejected
    intercept[IllegalArgumentException](IcebergWriter.appendEvolved(
      spark, dir, Seq((4L, 1.0)).toDF("id", "score")))
  }

  test("renameColumn is metadata-only: id-stamped files follow the rename") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icern").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    IcebergWriter.renameColumn(dir, "name", "label")
    val t = IcebergTable.read(spark, dir)
    assert(t.schema.fieldNames.toSeq == Seq("id", "label"))
    // pre-rename files resolve through the FIELD ID, not the name
    assert(t.orderBy("id").select("label").collect().map(_.getString(0))
      .toSeq == Seq("a", "b"))
    // the id is untouched; only the name moved
    val md = IcebergTable.loadMetadata(dir)
    assert(md.fieldIds(md.currentSchemaId).get(2).contains("label"))
    // appends under the new name land under the same id
    IcebergWriter.append(spark, dir, Seq((3L, "c")).toDF("id", "label"))
    assert(IcebergTable.read(spark, dir).count() == 3)
    // no snapshot was created by the rename itself
    assert(md.snapshots.size == 1)
    // stats pruning follows the rename: manifest stats are id-keyed,
    // and the id→name mapping tracks the CURRENT schema
    val pruned = IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("label", "=", "c")))
    assert(pruned.select("label").collect().map(_.getString(0)).toSeq
      == Seq("c"))
    intercept[RuntimeException](
      IcebergWriter.renameColumn(dir, "ghost", "x"))
    intercept[IllegalArgumentException](
      IcebergWriter.renameColumn(dir, "id", "label"))
  }

  test("dropColumn never reuses the id: a re-added name reads NULL for old rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icedrop").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a", 0.5), (2L, "b", 0.7)).toDF("id", "name", "score"))
    IcebergWriter.dropColumn(dir, "score")
    val t = IcebergTable.read(spark, dir)
    assert(t.schema.fieldNames.toSeq == Seq("id", "name"))
    // re-add the SAME name: fresh id, so the old 0.5/0.7 must NOT
    // resurface (the spec's id-addressed drop semantics)
    IcebergWriter.appendEvolved(spark, dir,
      Seq((3L, "c", 9.9)).toDF("id", "name", "score"))
    val t2 = IcebergTable.read(spark, dir)
    assert(t2.filter(col("id") < 3L).select("score")
      .collect().forall(_.isNullAt(0)))
    assert(t2.filter(col("id") === 3L).select("score")
      .collect().head.getDouble(0) == 9.9)
    val md = IcebergTable.loadMetadata(dir)
    val scoreId = md.fieldIds(md.currentSchemaId)
      .collectFirst { case (i, "score") => i }.get
    assert(scoreId > 3, s"re-added score must take a fresh id, got $scoreId")
    // load-bearing columns are refused
    val pdir = Files.createTempDirectory("graft_icedrop2").toFile.getPath
    IcebergWriter.createPartitioned(spark, pdir,
      Seq((1L, "us", 0.1)).toDF("id", "region", "v"),
      Seq(("region", "identity")))
    val e = intercept[IllegalArgumentException](
      IcebergWriter.dropColumn(pdir, "region"))
    assert(e.getMessage.contains("sources partition field"))
  }

  test("iceberg bucket hashes match the spec's Appendix B vectors") {
    import graft.functions.IcebergTransforms._
    // https://iceberg.apache.org/spec/#appendix-b-32-bit-hash-requirements
    assert(hashLong(34L) == 2017239379) // int and long 34 agree
    assert(murmur3("iceberg".getBytes("UTF-8")) == 1210000089)
    assert(hashLong(17486L) == -653330422) // date 2017-11-16
    assert(hashLong(81068000000L) == -662762989) // time 22:31:08
    assert(hashLong(1510871468000000L) == -2047944441) // ts 2017-11-16T22:31:08
    // decimal 14.20: minimal two's-complement of unscaled 1420
    assert(murmur3(java.math.BigInteger.valueOf(1420).toByteArray)
      == -500754589)
  }

  test("non-identity transforms: bucket + day partition, prune, round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icetrans").toFile.getPath
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (34L, ts("2017-11-16 22:31:08"), "a"),
      (35L, ts("2017-11-16 09:00:00"), "b"),
      (36L, ts("2017-11-17 10:00:00"), "c"),
      (99L, ts("2017-11-18 11:00:00"), "d"))
      .toDF("id", "ts", "name")
    IcebergWriter.createPartitioned(spark, dir, df,
      Seq(("id", "bucket[4]"), ("ts", "day")))
    // full read: sources stay physically present, nothing re-injected
    assert(ids(dir) == Seq(34L, 35L, 36L, 99L))
    val md = IcebergTable.loadMetadata(dir)
    assert(md.partitionFields ==
      Seq(("id_bucket", "bucket[4]"), ("ts_day", "day")))
    val entries = IcebergTable.snapshotFiles(md,
      md.currentSnapshot.get, dir).filter(_.content == 0)
    // every file carries BOTH transform values in its tuple, and the
    // bucket value matches the spec hash of the file's ids
    assert(entries.forall(e => e.partitionValues.contains("id_bucket")
      && e.partitionValues.contains("ts_day")))
    // day 2017-11-16 is epoch day 17486
    assert(entries.exists(_.partitionValues("ts_day") == "17486"))

    // bucket pruning on equality: only files whose bucket matches open
    val eq34 = IcebergTable.pruneEntries(md, entries,
      Seq(IcebergTable.ScanPred("id", "=", "34")))
    assert(eq34.size < entries.size)
    assert(eq34.forall(_.partitionValues("id_bucket") ==
      graft.functions.IcebergTransforms.bucketLong(34L, 4).toString))
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("id", "=", "34")))
      .select("name").collect().map(_.getString(0)).toSeq == Seq("a"))

    // day pruning on a range: the 11-18 file alone satisfies ts >= 11-18
    val late = IcebergTable.pruneEntries(md, entries,
      Seq(IcebergTable.ScanPred("ts", ">=", "2017-11-18 00:00:00")))
    assert(late.nonEmpty && late.size < entries.size)
    assert(late.forall(_.partitionValues("ts_day").toLong >= 17488L))
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("ts", ">=", "2017-11-18 00:00:00")))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(99L))

    // appends carry the spec forward: new files land transformed
    IcebergWriter.append(spark, dir,
      Seq((100L, ts("2017-11-19 08:00:00"), "e")).toDF("id", "ts", "name"))
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("ts", ">=", "2017-11-19 00:00:00")))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(100L))

    // month + truncate on a second table
    val dir2 = Files.createTempDirectory("graft_icetrans2").toFile.getPath
    IcebergWriter.createPartitioned(spark, dir2,
      Seq((7L, "alpha"), (23L, "beta"), (107L, "alpaca"))
        .toDF("id", "name"),
      Seq(("id", "truncate[100]"), ("name", "truncate[3]")))
    val md2 = IcebergTable.loadMetadata(dir2)
    val e2 = IcebergTable.snapshotFiles(md2,
      md2.currentSnapshot.get, dir2).filter(_.content == 0)
    // trunc(7)=0, trunc(23)=0, trunc(107)=100; prefixes alp/bet
    val t100 = IcebergTable.pruneEntries(md2, e2,
      Seq(IcebergTable.ScanPred("id", ">=", "100")))
    assert(t100.forall(_.partitionValues("id_trunc") == "100"))
    assert(IcebergTable.readPruned(spark, dir2,
      Seq(IcebergTable.ScanPred("name", "=", "alpha")))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("manifest column bounds prune files; results stay exact") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icebounds").toFile.getPath
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") * 2).as("v"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("k"),
          org.apache.spark.sql.functions.lpad(col("id").cast("string"),
            4, "0")).as("key"))
      .repartitionByRange(4, col("id"))
    IcebergWriter.create(spark, dir, df)
    val md = IcebergTable.loadMetadata(dir)
    val entries = IcebergTable.snapshotFiles(md,
      md.currentSnapshot.get, dir).filter(_.content == 0)
    assert(entries.size > 1)
    // every file carries bounds for all three columns
    assert(entries.forall(e => Seq("id", "v", "key").forall(c =>
      e.lowerBounds.contains(c) && e.upperBounds.contains(c))))
    assert(entries.forall(_.nullCounts.get("id").contains(0L)))
    // a selective range prunes most files…
    val kept = IcebergTable.pruneEntries(md, entries,
      Seq(IcebergTable.ScanPred("id", ">=", "900")))
    assert(kept.size < entries.size)
    // …and the result is EXACT (the predicate re-applies row-level)
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("id", ">=", "900"))).count() == 100)
    // string bounds prune equality probes too
    val k1 = IcebergTable.pruneEntries(md, entries,
      Seq(IcebergTable.ScanPred("key", "=", "k0005")))
    assert(k1.size < entries.size)
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("key", "=", "k0005"))).count() == 1)
    // a bounds-excluded probe opens NOTHING
    assert(IcebergTable.pruneEntries(md, entries,
      Seq(IcebergTable.ScanPred("id", ">", "99999"))).isEmpty)
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("id", ">", "99999"))).count() == 0)
  }

  test("writer records nan_value_counts; float/double pruning stays NaN-safe") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_icenanw").toFile.getPath
    // one commit holds a NaN — parquet-mr drops that file's double
    // min/max, so the writer must emit NO bounds and NO nan claim for
    // it; the clean commit's file gets bounds + nan=0
    IcebergWriter.create(spark, dir,
      Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "v").coalesce(1))
    IcebergWriter.append(spark, dir,
      Seq((3L, 5.0), (4L, 7.0)).toDF("id", "v").coalesce(1))
    val md = IcebergTable.loadMetadata(dir)
    val entries = IcebergTable.snapshotFiles(md,
      md.currentSnapshot.get, dir).filter(_.content == 0)
    assert(entries.size == 2)
    val nanFile = entries.find(_.nanCounts.isEmpty).get
    val cleanFile = entries.find(_.nanCounts.get("v").contains(0L)).get
    // NaN file: no double bounds (parquet dropped them), id bounds kept
    assert(!nanFile.lowerBounds.contains("v"))
    assert(nanFile.lowerBounds.contains("id"))
    // clean file: bounds + the NaN-free proof
    assert(cleanFile.upperBounds.get("v").contains("7.0"))
    // v > 100 keeps the NaN-unknown file (its NaN row matches under
    // Spark ordering), prunes the proven-clean one
    val kept = IcebergTable.pruneEntries(md, entries,
      Seq(IcebergTable.ScanPred("v", ">", "100.0")))
    assert(kept.map(_.path) == Seq(nanFile.path))
    val got = IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("v", ">", "100.0"))).collect()
    assert(got.length == 1 && got.head.getDouble(1).isNaN)
    // nan=0 still lets the clean file prune on >, and < stays prunable
    // via lower bounds regardless of NaN state
    assert(IcebergTable.pruneEntries(md, entries,
      Seq(IcebergTable.ScanPred("v", ">", "6.0")))
      .exists(_.path == cleanFile.path))
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("v", "<", "0.5"))).count() == 0)
  }

  test("above 32 partition tuples: one-scan map path, deletes and pruning intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icemany").toFile.getPath
    // 40 identity partitions — past the literal-injection threshold,
    // so reads take the single-scan + broadcast tuple-map path
    IcebergWriter.create(spark, dir,
      spark.range(0, 80).select(col("id"), (col("id") % 40).as("k")),
      partitionBy = Seq("k"))
    val all = IcebergTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(all == (0L until 80L).map(i => (i, i % 40)))
    // partition pruning still fires per tuple
    assert(IcebergTable.readWhere(spark, dir, pv => pv.get("k").contains("5"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 45L))
    // positional deletes apply through the map path (the per-row
    // partition-tuple key and the delete anti-join share the scan)
    assert(IcebergWriter.deleteWhere(spark, dir, col("id") < 4) == 4)
    val after = IcebergTable.read(spark, dir)
    assert(after.count() == 76)
    assert(after.filter(col("k") === 2).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(42L))
    // partition-scoped equality semantics hold here too: a global
    // equality delete hides every partition's matching key
    IcebergWriter.deleteWhereKeys(spark, dir,
      Seq(44L, 45L).toDF("id"), Seq("id"))
    assert(IcebergTable.read(spark, dir).count() == 74)
    // bounds pruning composes with the map path
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("id", ">=", "70"))).count() == 10)
  }

  test("delete files skip under predicate-bounded reads; results identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icedelprune").toFile.getPath
    // two range-disjoint data files, then one positional delete
    // touching only the LOW file and one equality delete whose keys
    // live only in the HIGH file
    IcebergWriter.create(spark, dir, spark.range(0, 500)
      .select(col("id"), (col("id") * 10).as("v")).coalesce(1))
    IcebergWriter.append(spark, dir, spark.range(500, 1000)
      .select(col("id"), (col("id") * 10).as("v")).coalesce(1))
    assert(IcebergWriter.deleteWhere(spark, dir, col("id") < 10) == 10)
    IcebergWriter.deleteWhereKeys(spark, dir,
      Seq(500L, 501L, 502L, 503L, 504L).toDF("id"), Seq("id"))
    val md = IcebergTable.loadMetadata(dir)
    val entries = IcebergTable.snapshotFiles(md, md.currentSnapshot.get, dir)
    val data = entries.filter(_.content == 0)
    val pos = entries.filter(_.content == 1)
    val eq = entries.filter(_.content == 2)
    assert(data.size == 2 && pos.nonEmpty && eq.nonEmpty)
    // the writer recorded the skip evidence: file_path bounds on the
    // positional delete (reserved id), key bounds on the equality one
    assert(pos.forall(_.pathBounds.isDefined))
    assert(eq.forall(e => e.lowerBounds.get("id").contains("500") &&
      e.upperBounds.get("id").contains("504")))
    // a high-range scan: the positional delete references only the low
    // file (path bounds exclude the kept file) and the equality keys
    // [500, 504] fall outside the predicate — BOTH delete files skip
    val predHi = Seq(IcebergTable.ScanPred("id", ">=", "900"))
    val keptHi = IcebergTable.pruneEntries(md, data, predHi)
    assert(keptHi.size == 1)
    val (posHi, eqHi) = IcebergTable.pruneDeletes(md, keptHi, pos, eq,
      Seq(predHi))
    assert(posHi.isEmpty && eqHi.isEmpty)
    // a low-range scan keeps the positional delete, skips the equality
    val predLo = Seq(IcebergTable.ScanPred("id", "<", "100"))
    val keptLo = IcebergTable.pruneEntries(md, data, predLo)
    val (posLo, eqLo) = IcebergTable.pruneDeletes(md, keptLo, pos, eq,
      Seq(predLo))
    assert(posLo == pos && eqLo.isEmpty)
    // a scan over the deleted keys keeps the equality delete
    val predEq = IcebergTable.between("id", "500", "504")
    val keptEq = IcebergTable.pruneEntries(md, data, predEq)
    val (_, eqEq) = IcebergTable.pruneDeletes(md, keptEq, pos, eq,
      Seq(predEq))
    assert(eqEq == eq)
    // results identical to the unpruned truth in all three regions
    assert(IcebergTable.readPruned(spark, dir, predHi).count() == 100)
    assert(IcebergTable.readPruned(spark, dir, predLo).count() == 90)
    assert(IcebergTable.readPruned(spark, dir, predEq).count() == 0)
    assert(IcebergTable.read(spark, dir).count() == 985)
  }

  test("concurrent appends all land: refresh-and-retry, no lost update") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_icerace").toFile.getPath
    IcebergWriter.create(spark, dir, Seq((0L, "seed")).toDF("id", "name"))
    // 4 threads append disjoint rows; each loaded the same parent
    // snapshot at entry — without refresh-under-lock the last commit
    // would silently clobber the other three
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 4).foreach { i =>
      pool.execute { () =>
        try IcebergWriter.append(spark, dir,
          Seq((i.toLong, s"w$i")).toDF("id", "name"))
        catch { case t: Throwable => errs.add(t) }
      }
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"append failed: ${Option(errs.peek())}")
    assert(ids(dir) == Seq(0L, 1L, 2L, 3L, 4L))
    val md = IcebergTable.loadMetadata(dir)
    assert(md.snapshots.size == 5) // create + 4 appends, all present
    assert(md.lastSequenceNumber == 5L)
  }

  test("a cross-process claimed metadata version is skipped, not clobbered") {
    import spark.implicits._
    val dirF = Files.createTempDirectory("graft_iceclaim").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    // simulate another PROCESS mid-commit: v2 exists on disk (claimed)
    // but the hint still points at v1 — an append must claim v3, and
    // the orphan claim must never be served as current metadata
    val orphan = new java.io.File(dirF, "metadata/v2.metadata.json")
    java.nio.file.Files.createFile(orphan.toPath)
    IcebergWriter.append(spark, dir, Seq((2L, "b")).toDF("id", "name"))
    assert(ids(dir) == Seq(1L, 2L))
    assert(new java.io.File(dirF, "metadata/v3.metadata.json").isFile)
    assert(java.nio.file.Files.readString(
      new java.io.File(dirF, "metadata/version-hint.text").toPath)
      .trim == "3")
    // a concurrent CREATE against an existing table raises
    intercept[IllegalArgumentException](IcebergWriter.create(spark, dir,
      Seq((9L, "x")).toDF("id", "name")))
  }

  test("manifest-list partition summaries prune whole manifests") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icemsum").toFile.getPath
    // three appends with disjoint identity-partition ranges → three
    // data manifests whose list rows carry [lo, hi] summaries
    IcebergWriter.createPartitioned(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"),
      Seq(("k", "identity")))
    IcebergWriter.append(spark, dir,
      Seq((5L, "c"), (6L, "d")).toDF("k", "name"))
    IcebergWriter.append(spark, dir,
      Seq((9L, "e"), (10L, "f")).toDF("k", "name"))
    val md = IcebergTable.loadMetadata(dir)
    val rows = IcebergTable.manifestRows(md, md.currentSnapshot.get, dir)
    val dataRows = rows.filter(_.content == 0)
    assert(dataRows.size == 3)
    // every data manifest carries a one-field summary with real bounds
    assert(dataRows.forall(_.summaries.exists(ss =>
      ss.size == 1 && !ss.head.containsNull &&
        ss.head.lower.isDefined && ss.head.upper.isDefined)))
    assert(dataRows.flatMap(_.summaries).map(ss =>
      (ss.head.lower.get, ss.head.upper.get)).toSet ==
      Set(("1", "2"), ("5", "6"), ("9", "10")))

    // a point probe touches exactly ONE manifest; a range, two
    def keptFor(preds: Seq[IcebergTable.ScanPred]): Int =
      dataRows.count(IcebergTable.manifestMayMatch(md, _, preds))
    assert(keptFor(Seq(IcebergTable.ScanPred("k", "=", "5"))) == 1)
    assert(keptFor(Seq(IcebergTable.ScanPred("k", ">=", "6"))) == 2)
    assert(keptFor(Seq(IcebergTable.ScanPred("k", "<", "3"))) == 1)
    assert(keptFor(Seq(IcebergTable.ScanPred("k", "=", "7"))) == 0)
    // …and the pruned read stays EXACT
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("k", ">=", "6")))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(6L, 9L, 10L))
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("k", "=", "7"))).count() == 0)

    // a tombstone commit adds a DELETE manifest: never pruned, and the
    // carried-forward data manifests keep their summaries on rewrite
    assert(IcebergWriter.deleteWhere(spark, dir, col("k") === 5L) == 1L)
    val md2 = IcebergTable.loadMetadata(dir)
    val rows2 = IcebergTable.manifestRows(md2, md2.currentSnapshot.get, dir)
    assert(rows2.count(_.content == 1) == 1)
    assert(rows2.filter(_.content == 1).forall(
      IcebergTable.manifestMayMatch(md2, _,
        Seq(IcebergTable.ScanPred("k", "=", "999")))))
    assert(rows2.filter(_.content == 0).flatMap(_.summaries).map(ss =>
      (ss.head.lower.get, ss.head.upper.get)).toSet ==
      Set(("1", "2"), ("5", "6"), ("9", "10")))
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("k", ">=", "5")))
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(6L, 9L, 10L)) // the delete applied inside the pruned scan

    // summary-less rows (foreign/binary bounds) are always kept
    val bare = IcebergTable.ManifestListRow("m.avro", 1L, 0, 0, None, 0L)
    assert(IcebergTable.manifestMayMatch(md, bare,
      Seq(IcebergTable.ScanPred("k", "=", "999"))))
    // a null-carrying field still prunes VALUE ops by its non-null
    // bounds (NULL rows can't match `=`), but is kept for IS NULL
    val withNull = IcebergTable.ManifestListRow("m.avro", 1L, 0, 0,
      Some(Seq(graft.materialize.IcebergFieldSummary(
        containsNull = true, Some("1"), Some("2")))), 0L)
    assert(!IcebergTable.manifestMayMatch(md, withNull,
      Seq(IcebergTable.ScanPred("k", "=", "999"))))
    assert(IcebergTable.manifestMayMatch(md, withNull,
      Seq(IcebergTable.ScanPred("k", "=", "2"))))
    assert(IcebergTable.manifestMayMatch(md, withNull,
      Seq(IcebergTable.ScanPred("k", "is_null", ""))))
  }

  test("manifest summaries prune through bucket and day transforms") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = Files.createTempDirectory("graft_icemsum2").toFile.getPath
    // two appends a month apart: day summaries of the two manifests
    // are disjoint ranges; bucket summaries are whatever murmur3 lands
    IcebergWriter.createPartitioned(spark, dir,
      Seq((34L, ts("2017-11-16 22:31:08"), "a"),
        (35L, ts("2017-11-17 09:00:00"), "b"))
        .toDF("id", "ts", "name"),
      Seq(("id", "bucket[16]"), ("ts", "day")))
    IcebergWriter.append(spark, dir,
      Seq((36L, ts("2017-12-20 10:00:00"), "c"),
        (99L, ts("2017-12-21 11:00:00"), "d"))
        .toDF("id", "ts", "name"))
    val md = IcebergTable.loadMetadata(dir)
    val dataRows = IcebergTable.manifestRows(md,
      md.currentSnapshot.get, dir).filter(_.content == 0)
    assert(dataRows.size == 2)
    assert(dataRows.forall(_.summaries.exists(_.size == 2)))
    // day range: November manifest excluded by a December predicate
    def keptFor(p: IcebergTable.ScanPred): Int =
      dataRows.count(IcebergTable.manifestMayMatch(md, _, Seq(p)))
    assert(keptFor(IcebergTable.ScanPred(
      "ts", ">=", "2017-12-01 00:00:00")) == 1)
    assert(keptFor(IcebergTable.ScanPred(
      "ts", "<", "2017-12-01 00:00:00")) == 1)
    assert(keptFor(IcebergTable.ScanPred(
      "ts", "=", "2017-11-16 22:31:08")) == 1)
    // bucket equality: a literal whose bucket lies outside BOTH
    // manifests' bucket ranges opens nothing; an in-range one keeps
    val buckets = dataRows.flatMap(_.summaries).map(ss =>
      (ss.head.lower.get.toLong, ss.head.upper.get.toLong))
    val missLit = (0L to 200L).find { v =>
      val b = graft.functions.IcebergTransforms.bucketLong(v, 16)
      buckets.forall { case (l, h) => b < l || b > h }
    }
    missLit.foreach { v =>
      assert(keptFor(IcebergTable.ScanPred("id", "=", v.toString)) == 0)
    }
    assert(keptFor(IcebergTable.ScanPred("id", "=", "34")) >= 1)
    // end-to-end: December range scan reads exactly the December rows
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("ts", ">=", "2017-12-01 00:00:00")))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(36L, 99L))
  }

  test("IS NULL / IS NOT NULL / IN prune through all three tiers") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_icenull").toFile.getPath
    // create: non-null keys 1..2; append 2: null keys only; append 3:
    // non-null keys 9..10 — identity partitioning lands the null rows
    // in the __HIVE_DEFAULT_PARTITION__ dir, and the manifest-list
    // summaries carry contains_null per manifest
    IcebergWriter.createPartitioned(spark, dir,
      Seq((Some(1L), "a"), (Some(2L), "b")).toDF("k", "name"),
      Seq(("k", "identity")))
    IcebergWriter.append(spark, dir,
      Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
        .toDF("k", "name"))
    IcebergWriter.append(spark, dir,
      Seq((Some(9L), "c"), (Some(10L), "d")).toDF("k", "name"))
    val md = IcebergTable.loadMetadata(dir)
    val rows = IcebergTable.manifestRows(md, md.currentSnapshot.get, dir)
      .filter(_.content == 0)
    assert(rows.size == 3)
    assert(rows.flatMap(_.summaries).map(_.head.containsNull) ==
      Seq(false, true, false))
    def keptRows(preds: Seq[IcebergTable.ScanPred]): Int =
      rows.count(IcebergTable.manifestMayMatch(md, _, preds))
    val isNull = Seq(IcebergTable.ScanPred("k", "is_null", ""))
    val notNull = Seq(IcebergTable.ScanPred("k", "is_not_null", ""))
    val in = Seq(IcebergTable.ScanPred("k", "in", "",
      Seq("2", "9", "77")))
    // list tier: only the null-carrying manifest can satisfy IS NULL.
    // IN keeps the two ranged manifests holding 2 and 9 AND the
    // all-null manifest (its summary has contains_null=true with NO
    // bounds — exactly what any writer emits for an all-null
    // manifest — which is indistinguishable from a stats gap here, so
    // the list tier keeps it and the FILE tier drops it by tuple)
    assert(keptRows(isNull) == 1)
    assert(keptRows(notNull) == 3)
    assert(keptRows(in) == 3)

    // file tier: the null partition's file is excluded by value ops
    // and by IS NOT NULL (all-null in k), kept alone by IS NULL
    val entries = IcebergTable.snapshotFiles(md,
      md.currentSnapshot.get, dir).filter(_.content == 0)
    assert(entries.forall(_.recordCount > 0L))
    val nullKept = IcebergTable.pruneEntries(md, entries, isNull)
    assert(nullKept.nonEmpty && nullKept.forall(
      _.partitionValues("k") == "__HIVE_DEFAULT_PARTITION__"))
    assert(!IcebergTable.pruneEntries(md, entries, notNull)
      .exists(_.partitionValues("k") == "__HIVE_DEFAULT_PARTITION__"))
    val inKept = IcebergTable.pruneEntries(md, entries, in)
    assert(inKept.size == 2 &&
      inKept.map(_.partitionValues("k")).sorted == Seq("2", "9"))

    // end-to-end exactness through readPruned
    assert(IcebergTable.readPruned(spark, dir, isNull)
      .select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("n1", "n2"))
    assert(IcebergTable.readPruned(spark, dir, notNull).count() == 4)
    assert(IcebergTable.readPruned(spark, dir, in)
      .select("name").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("b", "c"))
    // IN with no reachable value opens nothing and returns nothing
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("k", "in", "", Seq("77")))).count() == 0)
  }

  test("equality-delete upserts: strictly-greater rule, time travel, compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_iceeq").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    // snapshot 2: ONE commit = new rows + an equality delete on id
    // hiding every OLDER version of keys 2 and 4
    IcebergWriter.upsertKeys(spark, dir,
      Seq((2L, "b2"), (4L, "d")).toDF("id", "name"), Seq("id"))
    def byId(d: String): Map[Long, String] =
      IcebergTable.read(spark, d).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(dir) == Map(1L -> "a", 2L -> "b2", 3L -> "c", 4L -> "d"))
    // snapshot 3: a second upsert of the same key hides snapshot 2's
    // version too (delete seq 3 > data seqs 1 and 2), while its own
    // row survives (same seq — strictly greater)
    IcebergWriter.upsertKeys(spark, dir,
      Seq((2L, "b3")).toDF("id", "name"), Seq("id"))
    assert(byId(dir) == Map(1L -> "a", 2L -> "b3", 3L -> "c", 4L -> "d"))
    // time travel: each snapshot re-reads under its own delete set
    assert(IcebergTable.readVersion(spark, dir, 1L).count() == 3)
    assert(IcebergTable.readVersion(spark, dir, 2L)
      .filter(col("id") === 2L).select("name").collect()
      .map(_.getString(0)).toSeq == Seq("b2"))
    // keyed delete: one commit carrying only the key values
    IcebergWriter.deleteWhereKeys(spark, dir,
      Seq(3L).toDF("id"), Seq("id"))
    assert(ids(dir) == Seq(1L, 2L, 4L))
    // positional-tombstone generation over live equality deletes must
    // refuse (liveness would need the values re-applied)...
    intercept[IllegalArgumentException](
      IcebergWriter.deleteWhere(spark, dir, col("id") === 1L))
    // ...and compaction materializes them away, after which the whole
    // positional machinery works again
    IcebergWriter.compact(spark, dir)
    assert(byId(dir) == Map(1L -> "a", 2L -> "b3", 4L -> "d"))
    assert(IcebergWriter.deleteWhere(spark, dir, col("id") === 4L) == 1L)
    assert(ids(dir) == Seq(1L, 2L))
  }

  test("a string partition value equal to the null sentinel is refused at write") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_icesent").toFile.getPath
    val df = Seq((1L, "ok"), (2L, "__HIVE_DEFAULT_PARTITION__"))
      .toDF("id", "k")
    val e = intercept[Exception](
      IcebergWriter.create(spark, dir, df, partitionBy = Seq("k")))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("null-partition sentinel")))
    // genuine NULLs still land in the null partition and read back
    val dir2 = Files.createTempDirectory("graft_icesent2").toFile.getPath
    IcebergWriter.create(spark, dir2,
      Seq((1L, Some("x")), (2L, None)).toDF("id", "k"),
      partitionBy = Seq("k"))
    assert(IcebergTable.read(spark, dir2)
      .filter(org.apache.spark.sql.functions.col("k").isNull)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("readPrunedOr: a file skips only when EVERY branch excludes it") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_iceor").toFile.getPath
    // three single-file eras via range layout on k
    IcebergWriter.create(spark, dir,
      spark.range(0, 30).select(col("id"),
        (col("id") / 10).cast("long").as("k"))
        .repartitionByRange(3, col("k")))
    val md = IcebergTable.loadMetadata(dir)
    val entries = IcebergTable.snapshotFiles(md,
      md.currentSnapshot.get, dir).filter(_.content == 0)
    assert(entries.size == 3)
    // (k = 0) OR (k = 2): the middle file is excluded by BOTH branches
    val branches = Seq(
      Seq(IcebergTable.ScanPred("k", "=", "0")),
      Seq(IcebergTable.ScanPred("k", "=", "2")))
    val keptPer = entries.filter(f => branches.exists(b =>
      IcebergTable.pruneEntries(md, Seq(f), b).nonEmpty))
    assert(keptPer.size == 2)
    val out = IcebergTable.readPrunedOr(spark, dir, branches)
    assert(out.count() == 20)
    assert(out.select("k").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
    // BETWEEN composes as its two range predicates
    assert(IcebergTable.readPruned(spark, dir,
      IcebergTable.between("id", "5", "14")).count() == 10)
  }

  test("cross-process commit race: one winner, the loser refreshes and retries") {
    import spark.implicits._
    val dirF = Files.createTempDirectory("graft_icefork").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    // fork a SECOND JVM whose append will compute version 2, write the
    // marker, then sleep before claiming — while it sleeps, THIS
    // process commits version 2, so the worker's createFile loses and
    // must refresh-and-retry onto version 3 (the in-JVM commit lock
    // cannot serialize two processes; only the atomic claim can)
    val marker = new java.io.File(dirF, "claim.marker")
    val log = new java.io.File(dirF, "worker.log")
    val classes = Seq("target/scala-2.13/classes",
      "target/scala-2.13/test-classes")
      .map(p => new java.io.File(p).getAbsolutePath)
    val cp = (classes :+ "/opt/spark/jars/*").mkString(":")
    val opens = scala.io.Source.fromFile("tools/jdk17-add-opens.txt")
      .getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")).toSeq
    val cmd = Seq("java", "-cp", cp) ++ opens ++ Seq("-Xmx1500m",
      "-Duser.language=en", "-Duser.country=US",
      "graft.IcebergForkWorker", dir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("GRAFT_ICEBERG_TEST_CLAIM_DELAY_MS", "8000")
    pb.environment().put("GRAFT_ICEBERG_TEST_CLAIM_MARKER", marker.getPath)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val proc = pb.start()
    try {
      // wait for the worker to compute its version and enter the sleep
      val deadline = System.currentTimeMillis() + 240000L
      while (!marker.isFile && System.currentTimeMillis() < deadline &&
        proc.isAlive) Thread.sleep(100)
      assert(marker.isFile, "worker never reached the claim hook: " +
        scala.util.Try(java.nio.file.Files.readString(log.toPath)
          .takeRight(2000)).getOrElse("<no log>"))
      assert(java.nio.file.Files.readString(marker.toPath).trim == "2")
      // interleave: the parent wins version 2 while the worker sleeps
      IcebergWriter.append(spark, dir, Seq((2L, "parent")).toDF("id", "name"))
      assert(proc.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "worker did not exit")
      assert(proc.exitValue() == 0, "worker failed: " +
        scala.util.Try(java.nio.file.Files.readString(log.toPath)
          .takeRight(2000)).getOrElse("<no log>"))
    } finally if (proc.isAlive) proc.destroyForcibly()
    // one winner per version; the loser's retry landed cleanly on v3
    assert(ids(dir) == Seq(1L, 2L, 1000L))
    val md = IcebergTable.loadMetadata(dir)
    assert(md.snapshots.map(_.snapshotId) == Seq(1L, 2L, 3L))
    // the worker loaded snapshot 1 but committed with parent 2 —
    // proof the conflict path refreshed instead of clobbering
    assert(md.snapshots.last.parentId.contains(2L))
    assert(new java.io.File(dirF, "metadata/v3.metadata.json").isFile)
    assert(java.nio.file.Files.readString(
      new java.io.File(dirF, "metadata/version-hint.text").toPath)
      .trim == "3")
  }

  /** Every path under `dir`, relative to it. */
  private def tree(dir: java.io.File): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(dir).map(_.getPath.stripPrefix(dir.getPath)).toSet
  }

  test("a failed commit leg leaves nothing behind") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dirF = Files.createTempDirectory("graft_icefault").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val before = tree(dirF)
    // the data leg raises on its first row; the equality-delete leg
    // projects only the key, so it writes its files and manifest
    val batch = spark.range(0, 20, 1, 1).select(col("id"),
      when(col("id") >= 0, raise_error(lit("injected leg failure")))
        .otherwise(lit("x")).as("name"))
    val group = s"iceberg-fault-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "fault injection")
    val e = try intercept[Exception](
      IcebergWriter.upsertKeys(spark, dir, batch, Seq("id")))
    finally sc.clearJobGroup()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected leg")))
    // the sibling leg ran to its end before the raise, and nothing the
    // commit wrote is left: no path carries its commit id
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.nonEmpty)
    assert(jobs.forall(j => !sc.statusTracker.getJobInfo(j)
      .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING)))
    assert(tree(dirF) == before)
    assert(ids(dir) == Seq(1L, 2L))
    assert(IcebergTable.loadMetadata(dir).snapshots.size == 1)
  }

  /** Run `op` while a rival claims, in the file system, the metadata
    * version `op` computed, between the computing and the claiming. */
  private def withRivalClaim[T](dirF: java.io.File)(op: => T): T = {
    val marker = new java.io.File(dirF.getParentFile,
      s"${dirF.getName}.marker")
    val rival = new Thread(() => {
      while (!marker.isFile) Thread.sleep(5)
      val v = Files.readString(marker.toPath).trim
      Files.createFile(new java.io.File(dirF,
        s"metadata/v$v.metadata.json").toPath)
    })
    rival.setDaemon(true)
    rival.start()
    IcebergWriter.testClaimHook = Some((2000L, marker.getPath))
    try op
    finally {
      IcebergWriter.testClaimHook = None
      rival.join(10000)
      marker.delete()
    }
  }

  test("a lost claim leaves only the claimed commit's files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dirF = Files.createTempDirectory("graft_icerefuse").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val before = tree(dirF)
    // a delete was computed against its snapshot: it may not refresh,
    // so it raises and leaves nothing behind
    val e = intercept[IllegalArgumentException](withRivalClaim(dirF)(
      IcebergWriter.deleteWhere(spark, dir, col("id") === 1L)))
    assert(e.getMessage.contains("concurrent commit detected"))
    assert(tree(dirF) == before + "/metadata/v2.metadata.json")
    assert(ids(dir) == Seq(1L, 2L))
    // an append refreshes and claims the next version; the manifest
    // list of its lost attempt is gone
    val v = withRivalClaim(dirF)(IcebergWriter.append(spark, dir,
      Seq((3L, "c")).toDF("id", "name")))
    assert(v.getName == "v4.metadata.json")
    assert(ids(dir) == Seq(1L, 2L, 3L))
    assert(new java.io.File(dirF, "metadata").list()
      .count(_.startsWith("snap-")) == 2)
  }

  test("a commit whose file names meet an earlier commit's deletes none of them") {
    import spark.implicits._
    val dirF = Files.createTempDirectory("graft_icecollide").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    val before = try {
      IcebergWriter.testCommitId = Some("collide")
      IcebergWriter.append(spark, dir, Seq((2L, "b")).toDF("id", "name"))
      val before = tree(dirF)
      assert(before.contains("/data/snap-collide"))
      // the upsert's data leg meets the append's data/snap-collide and
      // raises; its equality-delete leg writes under a name of its own
      intercept[Exception](IcebergWriter.upsertKeys(spark, dir,
        Seq((2L, "c")).toDF("id", "name"), Seq("id")))
      before
    } finally IcebergWriter.testCommitId = None
    // the earlier commit's files stay; only the upsert's own are gone
    assert(tree(dirF) == before)
    assert(ids(dir) == Seq(1L, 2L))
  }

  test("a failed hint write after a won claim keeps the commit's files") {
    import spark.implicits._
    val dirF = Files.createTempDirectory("graft_icehint").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    // a directory where the hint goes: the claim of v2 and its document
    // write succeed, the hint write then raises
    val hint = new java.io.File(dirF, "metadata/version-hint.text")
    assert(hint.delete() && hint.mkdir())
    intercept[java.io.IOException](
      IcebergWriter.append(spark, dir, Seq((2L, "b")).toDF("id", "name")))
    assert(new java.io.File(dirF, "metadata/v2.metadata.json").length() > 0)
    // without a hint file the reader takes the highest version, v2,
    // whose data and manifests are all still there
    assert(ids(dir) == Seq(1L, 2L))
  }

  test("expireSnapshots skips an expired snapshot's already-missing files") {
    import spark.implicits._
    val dirF = Files.createTempDirectory("graft_iceexp_missing").toFile
    val dir = dirF.getPath
    IcebergWriter.create(spark, dir, Seq((1L, "a")).toDF("id", "name"))
    IcebergWriter.append(spark, dir, Seq((2L, "b")).toDF("id", "name"))
    def dataFiles: Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dirF, "data"))
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getPath)
    }
    val old = dataFiles
    IcebergWriter.compact(spark, dir, targetFiles = 1)
    // another engine's cleanup already removed one expired data file
    assert(old.head.delete())
    IcebergWriter.expireSnapshots(dir, keepLast = 1)
    assert(old.forall(!_.exists()))
    assert(IcebergTable.loadMetadata(dir).snapshots.map(_.snapshotId) ==
      Seq(3L))
    assert(ids(dir) == Seq(1L, 2L))
  }

  test("writer emits the SPEC metadata layouts: r102 tuples, id-keyed binary bounds") {
    import spark.implicits._
    val dirF = Files.createTempDirectory("graft_icespec").toFile
    val dir = dirF.getPath
    IcebergWriter.createPartitioned(spark, dir,
      Seq((1L, java.sql.Date.valueOf("1995-01-05"), "a"),
        (2L, java.sql.Date.valueOf("1998-06-10"), "b"))
        .toDF("id", "ds", "name"),
      Seq(("ds", "day")))
    def avroRows(f: java.io.File) = {
      val r = org.apache.avro.file.DataFileReader.openReader(f,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try { import scala.jdk.CollectionConverters._
        r.iterator().asScala.toList } finally r.close()
    }
    val mdir = new java.io.File(dirF, "metadata")
    val manifest = mdir.listFiles()
      .find(_.getName.startsWith("manifest-")).get
    val entry = avroRows(manifest).head
    val df0 = entry.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    // r102 typed partition struct — a day ordinal INT, not a string map
    val part = df0.get("partition")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    val days = Set("1995-01-05", "1998-06-10")
      .map(d => java.time.LocalDate.parse(d).toEpochDay.toInt)
    assert(days.contains(part.get("ds_day").asInstanceOf[Int]))
    assert(df0.getSchema.getField("partition_values") == null)
    // stats maps: arrays of (key int = FIELD ID, value bytes =
    // Appendix D) — id 1 is the long `id` column, 8-byte LE
    val lower = df0.get("lower_bounds")
      .asInstanceOf[java.util.Collection[_]]
    import scala.jdk.CollectionConverters._
    val byId = lower.asScala.map { case g:
        org.apache.avro.generic.GenericRecord =>
      g.get("key").asInstanceOf[Int] ->
        g.get("value").asInstanceOf[java.nio.ByteBuffer]
    }.toMap
    assert(byId.contains(1) && byId(1).remaining() == 8)
    // manifest-list field summary bounds are BYTES with a real spec id
    val list = avroRows(mdir.listFiles()
      .find(_.getName.startsWith("snap-")).get).head
    assert(list.get("partition_spec_id").asInstanceOf[Int] == 0)
    val summaries = list.get("partitions")
      .asInstanceOf[java.util.Collection[_]]
    val s0 = summaries.asScala.head
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(s0.get("lower_bound").isInstanceOf[java.nio.ByteBuffer])
    // and the reader consumes its own spec layout end-to-end
    assert(IcebergTable.readPruned(spark, dir,
      Seq(IcebergTable.ScanPred("ds", ">=", "1998-01-01")))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("schema round-trips through iceberg JSON including nested types") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_icewrite2").toFile.getPath
    val df = Seq((1L, Seq("x", "y"), Map("k" -> 1.5), ("in", 2)))
      .toDF("id", "tags", "scores", "nested")
    IcebergWriter.create(spark, dir, df)
    val back = IcebergTable.read(spark, dir)
    assert(back.schema.fieldNames.toSeq ==
      Seq("id", "tags", "scores", "nested"))
    assert(back.count() == 1)
    assert(back.select("nested.*").columns.toSeq == Seq("_1", "_2"))
  }

  test("a table column named file_path never captures positional-delete path stats") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the positional delete file's PHYSICAL file_path column must key
    // under the reserved id 2147483546 even when the TABLE also has a
    // column of that name — the table-id keying would both lose the
    // path-bounds prune and poison the table column's stats
    val dir = Files.createTempDirectory("graft_icefp").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "u1"), (2L, "u2"), (3L, "u3")).toDF("id", "file_path")
        .coalesce(1))
    assert(IcebergWriter.deleteWhere(spark, dir, col("id") === 2L) == 1)
    val md = IcebergTable.loadMetadata(dir)
    val entries = IcebergTable.snapshotFiles(md, md.currentSnapshot.get, dir)
    val pos = entries.filter(_.content == 1)
    assert(pos.nonEmpty)
    // reserved-id bounds present; no table-column contamination
    assert(pos.forall(_.pathBounds.isDefined))
    assert(pos.forall(e => e.lowerBounds.get("file_path").isEmpty &&
      e.upperBounds.get("file_path").isEmpty &&
      e.nullCounts.get("file_path").isEmpty))
    // data-file stats on the table's file_path column are unaffected
    val data = entries.filter(_.content == 0)
    assert(data.forall(_.lowerBounds.get("file_path").contains("u1")))
    assert(IcebergTable.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      Seq((1L, "u1"), (3L, "u3")))
  }

  /** Every record of a local avro file. */
  private def avroRecords(f: java.io.File)
      : List[org.apache.avro.generic.GenericRecord] = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.avro.file.DataFileReader.openReader(f,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  test("a relocated table's append records every manifest's true length") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_icemove").toFile
    val orig = new java.io.File(root, "t").getAbsolutePath
    IcebergWriter.create(spark, orig,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    assert(IcebergWriter.deleteWhere(spark, orig, col("id") === 2L) == 1L)
    // tombstones name the data files by their absolute paths under the
    // table directory
    val md0 = IcebergTable.loadMetadata(orig)
    val entries = IcebergTable.snapshotFiles(md0, md0.currentSnapshot.get,
      orig)
    val named = spark.read.parquet(entries.filter(_.content == 1).map(_.path): _*)
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(named.nonEmpty && named.forall(p => p.startsWith(orig + "/data/") &&
      entries.exists(e => e.content == 0 && e.path == p)), named)

    val moved = new java.io.File(root, "moved").getAbsolutePath
    Files.move(java.nio.file.Paths.get(orig), java.nio.file.Paths.get(moved))
    IcebergWriter.append(spark, moved, Seq((4L, "d")).toDF("id", "name"))
    // the list read raw: carried rows still name the ORIGINAL paths,
    // which re-anchor under the moved directory
    val list = new java.io.File(
      IcebergTable.loadMetadata(moved).currentSnapshot.get.manifestList)
    val rows = avroRecords(list).map(r => (r.get("manifest_path").toString,
      r.get("manifest_length").asInstanceOf[Long]))
    assert(rows.size == 3)
    rows.foreach { case (p, len) =>
      val f = new java.io.File(
        if (p.startsWith(orig + "/")) moved + p.stripPrefix(orig) else p)
      assert(f.isFile && len == f.length(),
        s"$p: manifest_length $len, file size ${f.length()}")
    }
    // the writer's liveness resolves the relocated files too
    assert(IcebergWriter.deleteWhere(spark, moved, col("id") === 3L) == 1L)
    assert(ids(moved) == Seq(1L, 4L))
  }

  test("a v1 table is refused on format-version, not an avro error, and reads") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = Files.createTempDirectory("graft_icev1").toFile.getPath
    IcebergWriter.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    // rewrite the manifest list in the v1 layout: no content, no
    // sequence numbers
    val list = new java.io.File(
      IcebergTable.loadMetadata(dir).currentSnapshot.get.manifestList)
    val rows = avroRecords(list)
    val v2 = rows.head.getSchema
    val v1 = Schema.createRecord(v2.getName, null, null, false,
      v2.getFields.asScala.filterNot(f => Set("content", "sequence_number",
        "min_sequence_number")(f.name))
        .map(f => new Schema.Field(f.name, f.schema, f.doc, f.defaultVal))
        .asJava)
    val w = new org.apache.avro.file.DataFileWriter(
      new GenericDatumWriter[GenericRecord](v1))
    w.create(v1, list)
    rows.foreach { r =>
      val g = new GenericData.Record(v1)
      v1.getFields.asScala.foreach(f => g.put(f.name, r.get(f.name)))
      w.append(g)
    }
    w.close()
    val doc = new java.io.File(dir, "metadata/v1.metadata.json").toPath
    val v2doc = Files.readString(doc)
    val v1doc = v2doc.replace("\"format-version\" : 2",
      "\"format-version\" : 1")
    assert(v1doc != v2doc)
    Files.writeString(doc, v1doc)
    assert(IcebergTable.loadMetadata(dir).formatVersion == 1)
    val e = intercept[IllegalArgumentException](
      IcebergWriter.append(spark, dir, Seq((4L, "d")).toDF("id", "name")))
    assert(e.getMessage.contains("format-version"))
    assert(ids(dir) == Seq(1L, 2L, 3L))
  }

  test("Iceberg avro metadata is decoded only in IcebergTable") {
    import java.nio.file.{Files => F, Paths}
    import scala.jdk.CollectionConverters._
    // the needle is assembled so this file does not match itself
    val needle = Seq("DataFileReader", "openReader").mkString(".")
    val s = F.walk(Paths.get("src/main/scala"))
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    val hits = files.filter(f => F.readString(f).contains(needle))
      .map(_.toString)
    assert(hits == Seq("src/main/scala/graft/materialize/IcebergTable.scala"),
      s"avro metadata decoded outside IcebergTable: $hits")
  }

  test("every metadata version is claimed in one place") {
    import java.nio.file.{Files => F, Paths}
    import scala.jdk.CollectionConverters._
    // code only: block and line comments are stripped before counting
    def code(p: java.nio.file.Path): String = F.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("(?m)(^|\\s)//.*$", "$1")
    def count(text: String, regex: String): Int =
      regex.r.findAllMatchIn(text).size
    val hint = "version-hint.text"
    val writer = code(Paths.get(
      "src/main/scala/graft/materialize/IcebergWriter.scala"))
    assert(count(writer, "createFile\\(") == 1)
    assert(count(writer, "version-hint") == 1)
    assert(count(writer,
      "writeString\\(\\s*new File\\(mdir, \"version-hint\\.text\"\\)") == 1)
    val s = F.walk(Paths.get("src/main/scala"))
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    val named = files.filter(f => code(f).contains(hint)).map(_.toString)
      .sorted
    assert(named == Seq(
      "src/main/scala/graft/materialize/IcebergTable.scala",
      "src/main/scala/graft/materialize/IcebergWriter.scala"),
      s"$hint named outside the Iceberg reader and writer: $named")
  }
}
