package graft

import java.io.File
import java.nio.file.Files

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.{IcebergMetadata, IcebergTable}

/** Offline Iceberg reader round-trip over a hand-built v2 table laid
  * out per the public Iceberg spec: two snapshots (append, then a
  * second append), metadata.json + avro manifest-list/manifest chain +
  * parquet data files, with internal paths anchored at the ORIGINAL
  * table location so the reader's relocation rule is exercised
  * (reference capability: connections.py:990-1055). */
class IcebergSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session

  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"}]}""".stripMargin)
  // manifest entries leave sequence_number null — the reader must
  // inherit the manifest's own sequence number from the list row,
  // which is the layout real writers produce for ADDED entries
  private val manifestSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"df","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
      |"default":null}]}}]}""".stripMargin)

  private def writeAvro(path: File, schema: Schema,
      rows: Seq[GenericRecord]): Unit = {
    path.getParentFile.mkdirs()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path)
    rows.foreach(w.append)
    w.close()
  }

  private def manifestListRow(path: String, content: Int,
      seq: Long): GenericRecord = {
    val r = new GenericData.Record(manifestListSchema)
    r.put("manifest_path", path)
    r.put("content", content)
    r.put("sequence_number", seq)
    r
  }

  private def manifestRow(status: Int, fileContent: Int,
      filePath: String, equalityIds: Seq[Int] = Nil): GenericRecord = {
    val df = new GenericData.Record(
      manifestSchema.getField("data_file").schema())
    df.put("content", fileContent)
    df.put("file_path", filePath)
    if (equalityIds.nonEmpty)
      df.put("equality_ids",
        java.util.Arrays.asList(equalityIds.map(Int.box): _*))
    val r = new GenericData.Record(manifestSchema)
    r.put("status", status)
    r.put("data_file", df)
    r
  }

  // r102-style manifest: the SPEC's typed `partition` struct instead of
  // this repo's writer deviation (`partition_values` map) — what every
  // foreign engine writes
  private val manifestSchemaR102 = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"df","fields":[
      |{"name":"content","type":"int"},
      |{"name":"file_path","type":"string"},
      |{"name":"partition","type":{"type":"record","name":"r102","fields":[
      |{"name":"id_bucket","type":["null","int"],"default":null}]}}]}}]}""".stripMargin)

  private def manifestRowR102(filePath: String,
      bucket: Integer): GenericRecord = {
    val pr = new GenericData.Record(manifestSchemaR102
      .getField("data_file").schema().getField("partition").schema())
    pr.put("id_bucket", bucket)
    val df = new GenericData.Record(
      manifestSchemaR102.getField("data_file").schema())
    df.put("content", 0)
    df.put("file_path", filePath)
    df.put("partition", pr)
    val r = new GenericData.Record(manifestSchemaR102)
    r.put("status", 1)
    r.put("data_file", df)
    r
  }

  /** Build the fixture table; returns its directory. Layout mirrors a
    * relocated table: metadata paths point at `file:///warehouse/db/t`
    * while the files live under the returned temp dir.
    * `withPosDelete` adds a v2 positional-delete file removing f1's
    * row at ordinal 1 (id=2) and f2's row at ordinal 0 (id=4);
    * `withEqDelete` adds two equality-delete files on `name` (field
    * id 2): seq 2 naming "d" (must NOT hide f2's "d" — f2 is also
    * seq 2 and the rule is strictly-greater) and seq 3 naming "b" and
    * NULL (hides f1's id=2 and f2's id=5, exercising null-safe match
    * and sequence inheritance from the manifest list).
    * `spaceDir` relocates under a directory containing spaces — the
    * percent-encoding parity case for the delete path joins.
    * `r102Partition` writes the data manifests with the spec's typed
    * `partition` struct (f1 → bucket 0, f2 → bucket 1). */
  private def buildTable(withPosDelete: Boolean = false,
      withEqDelete: Boolean = false,
      spaceDir: Boolean = false,
      r102Partition: Boolean = false): String = {
    val dir0 = Files.createTempDirectory("graft_iceberg").toFile
    val dir = if (!spaceDir) dir0 else {
      val d = new File(dir0, "tbl with space"); d.mkdirs(); d
    }
    val origLoc = "file:///warehouse/db/t"
    // two single-file parquet data files, 3 + 2 rows
    import spark.implicits._
    def onePart(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = new File(dir, s"__tmp_${name.replace('/', '_')}")
      df.coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new File(dir, name)
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    def oneParquet(rows: Seq[(Long, String)], name: String): Unit =
      onePart(rows.toDF("id", "name"), s"data/$name")
    oneParquet(Seq((1L, "a"), (2L, "b"), (3L, "c")), "f1.parquet")
    oneParquet(Seq((4L, "d"), (5L, null)), "f2.parquet")
    if (withPosDelete)
      // positional delete file: plain parquet (file_path, pos), paths
      // anchored at the ORIGINAL location like every other reference
      onePart(Seq(
        (s"$origLoc/data/f1.parquet", 1L),
        (s"$origLoc/data/f2.parquet", 0L)).toDF("file_path", "pos"),
        "data/del1.parquet")
    if (withEqDelete) {
      onePart(Seq("d").toDF("name"), "data/eqdel1.parquet")
      onePart(Seq("b", null).map(Tuple1(_)).toDF("name"),
        "data/eqdel2.parquet")
    }
    // manifests: m1 → f1 (seq 1); m2 → f2 (seq 2); m3/m4 → deletes
    if (r102Partition) {
      writeAvro(new File(dir, "metadata/m1.avro"), manifestSchemaR102,
        Seq(manifestRowR102(s"$origLoc/data/f1.parquet", 0)))
      writeAvro(new File(dir, "metadata/m2.avro"), manifestSchemaR102,
        Seq(manifestRowR102(s"$origLoc/data/f2.parquet", 1)))
    } else {
      writeAvro(new File(dir, "metadata/m1.avro"), manifestSchema,
        Seq(manifestRow(1, 0, s"$origLoc/data/f1.parquet")))
      writeAvro(new File(dir, "metadata/m2.avro"), manifestSchema,
        Seq(manifestRow(1, 0, s"$origLoc/data/f2.parquet")))
    }
    if (withPosDelete)
      writeAvro(new File(dir, "metadata/m3.avro"), manifestSchema,
        Seq(manifestRow(1, 1, s"$origLoc/data/del1.parquet")))
    if (withEqDelete) {
      writeAvro(new File(dir, "metadata/m4.avro"), manifestSchema,
        Seq(manifestRow(1, 2, s"$origLoc/data/eqdel1.parquet", Seq(2))))
      writeAvro(new File(dir, "metadata/m5.avro"), manifestSchema,
        Seq(manifestRow(1, 2, s"$origLoc/data/eqdel2.parquet", Seq(2))))
    }
    // manifest lists: snapshot 1 = {m1}; snapshot 2 = {m1, m2} (+ the
    // delete manifests, flagged content=1 at the list level)
    writeAvro(new File(dir, "metadata/ml1.avro"), manifestListSchema,
      Seq(manifestListRow(s"$origLoc/metadata/m1.avro", 0, 1L)))
    writeAvro(new File(dir, "metadata/ml2.avro"), manifestListSchema,
      Seq(manifestListRow(s"$origLoc/metadata/m1.avro", 0, 1L),
        manifestListRow(s"$origLoc/metadata/m2.avro", 0, 2L)) ++
        (if (withPosDelete)
          Seq(manifestListRow(s"$origLoc/metadata/m3.avro", 1, 2L))
        else Nil) ++
        (if (withEqDelete)
          Seq(manifestListRow(s"$origLoc/metadata/m4.avro", 1, 2L),
            manifestListRow(s"$origLoc/metadata/m5.avro", 1, 3L))
        else Nil))
    val metadata =
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "0000-fixture",
         |  "location": "$origLoc",
         |  "last-updated-ms": 2000,
         |  "current-snapshot-id": 200,
         |  "current-schema-id": 0,
         |  "schemas": [{
         |    "schema-id": 0, "type": "struct", "fields": [
         |      {"id": 1, "name": "id", "required": true, "type": "long"},
         |      {"id": 2, "name": "name", "required": false, "type": "string"}
         |    ]}],
         |  "default-spec-id": 0,
         |  "partition-specs": [{"spec-id": 0, "fields": [
         |    {"name": "id_bucket", "transform": "bucket[4]",
         |     "source-id": 1, "field-id": 1000}]}],
         |  "snapshots": [
         |    {"snapshot-id": 100, "timestamp-ms": 1000,
         |     "manifest-list": "$origLoc/metadata/ml1.avro",
         |     "summary": {"operation": "append"}},
         |    {"snapshot-id": 200, "parent-snapshot-id": 100,
         |     "timestamp-ms": 2000,
         |     "manifest-list": "$origLoc/metadata/ml2.avro",
         |     "summary": {"operation": "append"}}
         |  ]
         |}""".stripMargin
    java.nio.file.Files.writeString(
      new File(dir, "metadata/00002-fixture.metadata.json").toPath, metadata)
    dir.getPath
  }

  test("metadata.json parses: snapshots, schema map, partition spec") {
    val md = IcebergTable.loadMetadata(buildTable())
    assert(md.formatVersion == 2)
    assert(md.snapshots.map(_.snapshotId) == Seq(100L, 200L))
    assert(md.currentSnapshot.map(_.snapshotId).contains(200L))
    assert(md.schema == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true))))
    assert(md.partitionFields == Seq(("id_bucket", "bucket[4]")))
    // as-of covering rule: between commits resolves to the older one
    assert(md.snapshotAsOf(1500).map(_.snapshotId).contains(100L))
    assert(md.snapshotAsOf(2000).map(_.snapshotId).contains(200L))
    assert(md.snapshotAsOf(999).isEmpty)
  }

  test("reads current snapshot, snapshot by id, and AS-OF through the avro chain") {
    val dir = buildTable()
    assert(IcebergTable.read(spark, dir).count() == 5)
    assert(IcebergTable.readVersion(spark, dir, 100L)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(IcebergTable.readAsOf(spark, dir, 1500L).count() == 3)
    assert(IcebergTable.read(spark, dir).schema("id").dataType == LongType)
  }

  test("v2 positional deletes are applied as a (file, row-ordinal) anti-join") {
    val dir = buildTable(withPosDelete = true)
    // del1.parquet removes f1 ordinal 1 (id=2) and f2 ordinal 0 (id=4)
    assert(IcebergTable.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 5L))
    // the pre-delete snapshot stays fully readable
    assert(IcebergTable.readVersion(spark, dir, 100L).count() == 3)
  }

  test("v2 equality deletes: null-safe match, strictly-greater sequence rule") {
    val dir = buildTable(withEqDelete = true)
    // seq-3 delete {"b", NULL} hides f1's id=2 (seq 1) and f2's id=5
    // (seq 2, null name); seq-2 delete {"d"} does NOT hide f2's "d"
    // (also seq 2 — the rule is strictly greater, so same-commit rows
    // survive their own upsert's delete file)
    assert(IcebergTable.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L, 4L))
    // the pre-delete snapshot stays fully readable
    assert(IcebergTable.readVersion(spark, dir, 100L).count() == 3)
  }

  test("equality and positional deletes compose in one snapshot") {
    val dir = buildTable(withPosDelete = true, withEqDelete = true)
    // positional: f1 ordinal 1 (id=2), f2 ordinal 0 (id=4);
    // equality seq-3 {"b", NULL}: id=2 (already gone), id=5
    assert(IcebergTable.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
  }

  test("readWhere RAISES on a partitioned table whose manifests carry no tuples") {
    // the base fixture declares spec `id_bucket bucket[4]` but its
    // manifests (a foreign layout this parser doesn't cover) have no
    // partition tuples: pruning must fail LOUDLY — silently pruning
    // every file would read the table as empty (round-12 advisor
    // medium #1)
    val dir = buildTable()
    val e = intercept[RuntimeException] {
      IcebergTable.readWhere(spark, dir,
        pv => pv.get("id_bucket").contains("1")).count()
    }
    assert(e.getMessage.contains("no manifest entry"))
    // an unpruned read of the same table stays fine (nothing to lose)
    assert(IcebergTable.read(spark, dir).count() == 5)
  }

  test("spec r102 typed `partition` struct: tuples parse and prune") {
    val dir = buildTable(r102Partition = true)
    // foreign-style manifests carry partition=(id_bucket: 0|1)
    assert(IcebergTable.readWhere(spark, dir,
      pv => pv.get("id_bucket").contains("1"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(4L, 5L))
    assert(IcebergTable.readWhere(spark, dir,
      pv => pv.get("id_bucket").contains("0")).count() == 3)
  }

  test("deletes apply correctly in a directory with spaces (rendering parity)") {
    // _metadata.file_path renders `tbl%20with%20space`; the snapshot
    // path map must key on the same rendering on both sides — before
    // the exact-rendering map this silently dropped/kept rows
    val dir = buildTable(withPosDelete = true, withEqDelete = true,
      spaceDir = true)
    assert(IcebergTable.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
  }

  test("a data file missing from the snapshot path map RAISES, never drops rows") {
    // drive the guard directly with a map that misses f2 — the failure
    // mode is a rendering drift between Spark's _metadata.file_path
    // and the driver-side manifest paths (round-12 advisor medium #2:
    // the old inner join silently dropped every unmatched row)
    import spark.implicits._
    val dir = buildTable()
    val files = new File(dir, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val data = spark.read.parquet(files.map(_.getPath): _*)
      .withColumn("__graft_uri",
        org.apache.spark.sql.functions.col("_metadata.file_path"))
    val partialMap = Seq(
      (IcebergTable.metaPathOf(files.head.getPath), "data/f1.parquet", 1L))
      .toDF("__graft_uri", "__graft_file", "__graft_seq")
    val e = intercept[Exception] {
      // collect, not count: count() prunes every column and with it the
      // guard expression — exactly why the guard sits on BOTH columns
      IcebergTable.attachFileInfo(data, partialMap)
        .select("__graft_seq").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("path rendering drift")))
  }

  test("v1 metadata: singular partition-spec key parses (not just v2 partition-specs)") {
    val md = IcebergMetadata.parse(
      """{"format-version": 1, "table-uuid": "x", "location": "",
        |"last-updated-ms": 0,
        |"schema": {"type": "struct", "fields": [
        |  {"id": 1, "name": "ds", "required": false, "type": "string"}]},
        |"partition-spec": [
        |  {"name": "ds", "transform": "identity", "source-id": 1}],
        |"snapshots": []}""".stripMargin)
    assert(md.partitionFields == Seq(("ds", "identity")))
    assert(md.partitionSource(md.specFields.head).contains("ds"))
  }

  test("versionless metadata picks the highest PARSED version, not lexicographic") {
    // Hadoop-table layout: unpadded v<N>.metadata.json — "v9" sorts
    // after "v10" as text; the reader must parse the number
    val dir = buildTable()
    val mdir = new File(dir, "metadata")
    val current = mdir.listFiles()
      .find(_.getName.endsWith(".metadata.json")).get
    val body = java.nio.file.Files.readString(current.toPath)
    java.nio.file.Files.writeString(
      new File(mdir, "v10.metadata.json").toPath, body)
    // v9 claims an older current snapshot; lexicographic maxBy would
    // serve THIS one (stale) — the parsed-version rule must not
    java.nio.file.Files.writeString(
      new File(mdir, "v9.metadata.json").toPath,
      body.replace("\"current-snapshot-id\": 200", "\"current-snapshot-id\": 100"))
    current.delete()
    assert(IcebergTable.loadMetadata(dir)
      .currentSnapshot.map(_.snapshotId).contains(200L))
  }

  test("explicit-null current-snapshot-id reads as no snapshot, not id 0") {
    val md = IcebergMetadata.parse(
      """{"format-version": 2, "table-uuid": "x", "location": "",
        |"last-updated-ms": 0, "current-snapshot-id": null,
        |"current-schema-id": 0,
        |"schemas": [{"schema-id": 0, "type": "struct", "fields": []}],
        |"default-spec-id": 0, "snapshots": []}""".stripMargin)
    assert(md.currentSnapshotId.isEmpty)
    assert(md.currentSnapshot.isEmpty)
  }

  test("iceberg type lattice maps to Spark types") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def t(s: String) = IcebergMetadata.typeOf(m.readTree(s))
    assert(t("\"int\"") == IntegerType)
    assert(t("\"timestamptz\"") == TimestampType)
    assert(t("\"timestamp\"") == TimestampNTZType)
    assert(t("\"decimal(18, 4)\"") == DecimalType(18, 4))
    assert(t("\"fixed[16]\"") == BinaryType)
    assert(t("""{"type":"list","element":"long","element-required":true}""")
      == ArrayType(LongType, containsNull = false))
    assert(t("""{"type":"map","key":"string","value":"double"}""")
      == MapType(StringType, DoubleType, valueContainsNull = true))
    assert(t("""{"type":"struct","fields":[
        {"id":1,"name":"x","required":true,"type":"int"}]}""")
      == StructType(Seq(StructField("x", IntegerType, nullable = false))))
  }
}
