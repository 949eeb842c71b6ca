package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.functions.col

/** The ALTER TABLE family: ADD COLUMNS, RENAME COLUMN, DROP COLUMN,
  * SET TBLPROPERTIES — all metadata-only commits.
  */
class DeltaAlterSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getPath

  test("addColumns null-fills old files, appends carry the new shape, history keeps the old") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_add_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v").coalesce(1), dir)
    LakeWriter.alterAddColumns(spark, dir, Seq("score" -> "double", "tag" -> "string"))

    val got = DeltaReader.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "v", "score", "tag"))
    assert(got.where(col("score").isNull && col("tag").isNull).count() == 1)
    // time travel below the ALTER keeps the historic shape
    assert(DeltaReader.read(spark, dir, Some(0L)).columns.toSeq == Seq("id", "v"))
    // appends must now carry the widened schema
    LakeWriter.appendDelta(
      Seq((1L, "b", java.lang.Double.valueOf(0.5), "x")).toDF("id", "v", "score", "tag")
        .coalesce(1), dir)
    assert(DeltaReader.read(spark, dir).where(col("score") === 0.5).count() == 1)
    // duplicate refuses
    val e = intercept[IllegalArgumentException](
      LakeWriter.alterAddColumns(spark, dir, Seq("v" -> "string")))
    assert(e.getMessage.contains("already exists"))
  }

  test("addColumns on a column-mapped table assigns fresh field ids and physical names") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_addcm_")
    LakeWriter.writeDeltaMapped(Seq((0L, "a")).toDF("id", "v"), dir)
    LakeWriter.alterAddColumns(spark, dir, Seq("score" -> "double"))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.configuration("delta.columnMapping.maxColumnId") == "3")
    val f = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]("score")
    assert(f.metadata.getLong("delta.columnMapping.id") == 3L)
    assert(f.metadata.getString("delta.columnMapping.physicalName").startsWith("col-"))
    assert(DeltaReader.read(spark, dir).columns.toSeq == Seq("id", "v", "score"))
  }

  test("renameColumn on CM tables is metadata-only; non-CM refuses") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_ren_")
    LakeWriter.writeDeltaMapped(Seq((0L, "a"), (1L, "b")).toDF("id", "v"), dir)
    val filesBefore = DeltaReader.snapshot(spark, dir, None).active.map(_.path).toSet
    LakeWriter.renameColumn(spark, dir, "v", "value")
    assert(DeltaReader.read(spark, dir).columns.toSeq == Seq("id", "value"))
    assert(DeltaReader.read(spark, dir).where(col("value") === "a").count() == 1)
    // zero files rewritten — the point of the mode
    assert(DeltaReader.snapshot(spark, dir, None).active.map(_.path).toSet == filesBefore)
    // time travel below the rename shows the old name
    assert(DeltaReader.read(spark, dir, Some(0L)).columns.toSeq == Seq("id", "v"))

    val plain = tmp("graft_alter_ren_plain_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v"), plain)
    val e = intercept[IllegalArgumentException](
      LakeWriter.renameColumn(spark, plain, "v", "value"))
    assert(e.getMessage.contains("not column-mapped"))
  }

  test("dropColumn hides the column at latest, keeps it under time travel") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_drop_")
    LakeWriter.writeDeltaMapped(Seq((0L, "a", 1.5)).toDF("id", "v", "score"), dir)
    LakeWriter.dropColumn(spark, dir, "score")
    assert(DeltaReader.read(spark, dir).columns.toSeq == Seq("id", "v"))
    assert(DeltaReader.read(spark, dir, Some(0L)).columns.toSeq == Seq("id", "v", "score"))
    val e = intercept[IllegalArgumentException](LakeWriter.dropColumn(spark, dir, "nope"))
    assert(e.getMessage.contains("no column"))
  }

  test("alterProperties merges/unsets; enabling CDF bumps the writer floor; CM mode change refuses") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_props_")
    LakeWriter.writeDelta(Seq((0L, "a"), (1L, "b")).toDF("id", "v").coalesce(1), dir)
    LakeWriter.alterProperties(spark, dir,
      Map("delta.enableChangeDataFeed" -> "true", "graft.note" -> "x"))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.configuration("delta.enableChangeDataFeed") == "true")
    assert(snap.minWriter == 4L)
    // the CDF obligation binds: a delete now writes change data, and
    // readChanges replays it
    LakeWriter.deleteWhere(spark, dir, "id = 0")
    val ch = DeltaReader.readChanges(spark, dir, snap.version + 1, snap.version + 1)
    assert(ch.where(col("_change_type") === "delete").count() == 1)

    LakeWriter.alterProperties(spark, dir, Map.empty, unset = Seq("graft.note"))
    assert(!DeltaReader.snapshot(spark, dir, None).configuration.contains("graft.note"))

    // none -> name is the supported METADATA-ONLY upgrade (r16) and
    // name/id -> none the supported REMOVAL rewrite (r17, dedicated
    // vector below); name <-> id still refuses
    LakeWriter.alterProperties(spark, dir, Map("delta.columnMapping.mode" -> "name"))
    assert(DeltaReader.snapshot(spark, dir, None)
      .configuration("delta.columnMapping.mode") == "name")
    val e = intercept[IllegalArgumentException](
      LakeWriter.alterProperties(spark, dir, Map("delta.columnMapping.mode" -> "id")))
    assert(e.getMessage.contains("not supported"))
    // removal on an UNMAPPED table refuses
    val e2 = intercept[IllegalArgumentException](
      LakeWriter.removeColumnMapping(spark,
        { val d2 = tmp("graft_alter_unm_"); LakeWriter.writeDelta(
          spark.range(1).toDF("id"), d2); d2 }))
    assert(e2.getMessage.contains("nothing to remove"))
  }

  test("column-mapping REMOVAL (name -> none): logical footers, mapped history travels, row-tracked ids survive") {
    import org.apache.spark.sql.types.StructType
    val dir = tmp("graft_alter_cmrm_")
    // a PARTITIONED mapped table with col-xxx physical names — the
    // adversarial shape (physical != logical at every column AND in
    // the partition directory layout)
    LakeWriter.writeDeltaMapped(spark.range(0, 40).selectExpr(
      "id", "concat('v', id) AS v", "CAST(id % 4 AS STRING) AS k",
      "named_struct('x', id * 2, 'tag', concat('t', id)) AS s")
      .repartition(2), dir, partitionBy = Seq("k"))
    LakeWriter.enableRowTracking(spark, dir)
    LakeWriter.renameColumn(spark, dir, "v", "val")
    LakeWriter.deleteWhereDv(spark, dir, "id % 10 = 9")
    val idsBefore = DeltaReader.readWithRowIds(spark, dir)
      .select("_row_id", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val preVersion = DeltaReader.snapshot(spark, dir, None).version
    val valuesBefore = DeltaReader.read(spark, dir)
      .selectExpr("id", "val", "k", "s.x").collect()
      .map(_.toSeq).toSet

    LakeWriter.removeColumnMapping(spark, dir)

    // configuration + schema hold zero mapping facts
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(!snap.configuration.contains("delta.columnMapping.mode"))
    assert(!snap.configuration.contains("delta.columnMapping.maxColumnId"))
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[StructType]
    def noCm(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case st: StructType => st.fields.forall(f =>
        !f.metadata.contains("delta.columnMapping.id") &&
          !f.metadata.contains("delta.columnMapping.physicalName") &&
          noCm(f.dataType))
      case at: org.apache.spark.sql.types.ArrayType => noCm(at.elementType)
      case mt: org.apache.spark.sql.types.MapType => noCm(mt.keyType) && noCm(mt.valueType)
      case _ => true
    }
    assert(noCm(sch), snap.schemaJson)
    // values identical through the round trip (DVs materialized away)
    assert(DeltaReader.read(spark, dir)
      .selectExpr("id", "val", "k", "s.x").collect()
      .map(_.toSeq).toSet == valuesBefore)
    assert(snap.active.forall(_.dv.isEmpty), "removal materializes DV debt")
    // the new files are PLAIN-NAMES readable: raw spark.read.parquet
    // resolves the logical columns with no Delta metadata at all
    val rawFiles = snap.active.map(a =>
      new org.apache.hadoop.fs.Path(dir, DeltaReader.percentDecode(a.path)).toString)
    val raw = spark.read.parquet(rawFiles: _*)
    assert(Seq("id", "val", "s").forall(raw.columns.contains), raw.columns.toSeq)
    assert(raw.count() == valuesBefore.size)
    // partition directory layout + partitionValues re-keyed LOGICAL
    assert(snap.active.forall(_.partitionValues.keySet == Set("k")),
      snap.active.map(_.partitionValues).toSeq.take(3).toString)
    assert(snap.active.forall(_.path.contains("k=")))
    // row-tracked: every surviving row keeps its id (preserved profile)
    val idsAfter = DeltaReader.readWithRowIds(spark, dir)
      .select("_row_id", "id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idsAfter == idsBefore, "removal must preserve row identities")
    // time travel below the removal still reads the MAPPED history
    val historic = DeltaReader.read(spark, dir, Some(preVersion))
    assert(historic.columns.contains("val"))
    assert(historic.count() == valuesBefore.size)
    // checksum chain green through the rewrite commit
    (0L to snap.version).foreach { v =>
      assert(DeltaReader.validateChecksum(spark, dir, Some(v)), s"version $v")
    }
    // mutations now run UNMAPPED: a rename refuses (needs the mode)
    val e = intercept[IllegalArgumentException](
      LakeWriter.renameColumn(spark, dir, "val", "v2"))
    assert(e.getMessage.contains("not column-mapped"), e.getMessage)
    // and appends land under logical names
    LakeWriter.appendDelta(spark.range(100, 101).selectExpr(
      "id", "concat('v', id) AS val", "CAST(id % 4 AS STRING) AS k",
      "named_struct('x', id * 2, 'tag', concat('t', id)) AS s"), dir)
    assert(DeltaReader.read(spark, dir).where("id = 100").count() == 1)
  }

  test("compactDelta and column-mapping removal keep null and Hive-escaped partition values and directories") {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val s = spark
    import s.implicits._
    val keys = Seq(null, "a b/c", "plain", "50%")
    // two one-file batches: every partition holds exactly two files
    def batch(lo: Int) = (lo until lo + 12).map(i => (i.toLong, s"v$i", keys(i % 4)))
      .toDF("id", "v", "k").coalesce(1)
    def rows(dir: String) = DeltaReader.read(spark, dir).select("id", "v", "k")
      .as[(Long, String, String)].collect().toSet
    val expected = (0 until 24).map(i => (i.toLong, s"v$i", keys(i % 4))).toSet
    // merge-on-read DML stages new files into the same escaped
    // directories: updateWhereDv rewrites ids 0-3 and applyCdcDv upserts
    // ids 4-7 (one row per partition each), with complete change data
    val mutated = (0 until 24).map { i =>
      (i.toLong, if (i < 4) s"v$i!" else if (i < 8) s"w$i" else s"v$i", keys(i % 4))
    }.toSet
    def dvDml(dir: String): Unit = {
      LakeWriter.alterProperties(spark, dir, Map("delta.enableChangeDataFeed" -> "true"))
      LakeWriter.updateWhereDv(spark, dir, "id < 4", Map("v" -> "concat(v, '!')"))
      LakeWriter.applyCdcDv(spark, dir, (4 until 8).map(i =>
        (i.toLong, s"w$i", keys(i % 4), "update_postimage"))
        .toDF("id", "v", "k", "_change_type"), Seq("id"))
      val v = DeltaReader.snapshot(spark, dir, None).version
      val changes = DeltaReader.readChanges(spark, dir, v - 1, v)
        .groupBy("_change_type").count().as[(String, Long)].collect().toMap
      assert(changes == Map("update_preimage" -> 8L, "update_postimage" -> 8L), changes)
      assert(rows(dir) == mutated)
    }
    // every live file sits under the escaped directory of the partition
    // value its add carries, keyed `key`, and exists on disk
    def placed(dir: String, key: String): Unit = {
      val snap = DeltaReader.snapshot(spark, dir, None)
      assert(snap.active.map(_.partitionValues.get(key).orNull).toSet == keys.toSet,
        snap.active.map(_.partitionValues))
      snap.active.foreach { a =>
        val v = a.partitionValues(key)
        val seg = if (v == null) "__HIVE_DEFAULT_PARTITION__" else escapePathName(v)
        val rel = DeltaReader.percentDecode(a.path)
        assert(rel.startsWith(s"${escapePathName(key)}=$seg/"), rel)
        assert(new java.io.File(dir, rel).isFile, rel)
      }
    }
    val plain = tmp("graft_alter_esc_plain_")
    LakeWriter.writeDelta(batch(0), plain, partitionBy = Seq("k"))
    LakeWriter.appendDelta(batch(12), plain)
    LakeWriter.compactDelta(spark, plain)
    assert(DeltaReader.snapshot(spark, plain, None).active.forall(_.path.contains("part-compact-")))
    assert(rows(plain) == expected)
    placed(plain, "k")
    dvDml(plain)
    placed(plain, "k")

    val mapped = tmp("graft_alter_esc_cm_")
    LakeWriter.writeDeltaMapped(batch(0), mapped, partitionBy = Seq("k"))
    LakeWriter.appendDelta(batch(12), mapped)
    val phys = DeltaReader.snapshot(spark, mapped, None).active.head.partitionValues.keys.head
    LakeWriter.compactDelta(spark, mapped)
    assert(DeltaReader.snapshot(spark, mapped, None).active.forall(_.path.contains("part-compact-")))
    assert(rows(mapped) == expected)
    placed(mapped, phys)
    dvDml(mapped)
    placed(mapped, phys)
    LakeWriter.removeColumnMapping(spark, mapped)
    assert(DeltaReader.snapshot(spark, mapped, None).active.forall(_.path.contains("part-cmremove-")))
    assert(rows(mapped) == mutated)
    placed(mapped, "k")
  }

  test("column-mapping UPGRADE (none -> name): metadata-only, old files keep resolving, rename/evolve then work") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_cmup_")
    LakeWriter.writeDelta(spark.range(0, 2).selectExpr(
      "id", "concat('v', id) AS v",
      "named_struct('x', id * 2, 'tag', concat('t', id)) AS s").coalesce(1), dir)
    LakeWriter.appendDelta(spark.range(2, 3).selectExpr(
      "id", "concat('v', id) AS v",
      "named_struct('x', id * 2, 'tag', concat('t', id)) AS s").coalesce(1), dir)
    val preVersion = DeltaReader.snapshot(spark, dir, None).version
    LakeWriter.alterProperties(spark, dir, Map("delta.columnMapping.mode" -> "name"))
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.minReader == 2 && snap.minWriter == 5)
    assert(snap.configuration("delta.columnMapping.mode") == "name")
    // ids assigned at EVERY level: id, v, s, s.x, s.tag = 5
    assert(snap.configuration("delta.columnMapping.maxColumnId") == "5")
    val sch = org.apache.spark.sql.types.DataType.fromJson(snap.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    sch.fields.foreach { f =>
      assert(f.metadata.getString("delta.columnMapping.physicalName") == f.name)
      assert(f.metadata.contains("delta.columnMapping.id"))
    }
    val inner = sch("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    inner.fields.foreach { f =>
      assert(f.metadata.getString("delta.columnMapping.physicalName") == f.name)
    }
    def values(): Set[(Long, String, Long)] =
      DeltaReader.read(spark, dir).selectExpr("id", "v", "s.x").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // the PRE-upgrade files keep resolving (their on-disk names ARE the
    // physical names now)
    assert(values() == Set((0L, "v0", 0L), (1L, "v1", 2L), (2L, "v2", 4L)))
    // appends stage under the (identical) physical names, field ids on
    LakeWriter.appendDelta(spark.range(3, 4).selectExpr(
      "id", "concat('v', id) AS v",
      "named_struct('x', id * 2, 'tag', concat('t', id)) AS s").coalesce(1), dir)
    assert(values().contains((3L, "v3", 6L)))
    // rename is now metadata-only; old files keep the old physical name
    LakeWriter.renameColumn(spark, dir, "v", "val")
    assert(DeltaReader.read(spark, dir).selectExpr("val").where("id = 0")
      .collect().head.getString(0) == "v0")
    // evolution assigns the NEXT id above the stamped maxColumnId
    LakeWriter.appendDeltaEvolve(spark.range(4, 5).selectExpr(
      "id", "concat('v', id) AS val",
      "named_struct('x', id * 2, 'tag', concat('t', id)) AS s",
      "id * 10 AS w").coalesce(1), dir)
    val snap2 = DeltaReader.snapshot(spark, dir, None)
    assert(snap2.configuration("delta.columnMapping.maxColumnId") == "6")
    assert(DeltaReader.read(spark, dir).where("w = 40").count() == 1)
    // pruning works through the (identity) physical stats keys
    assert(graft.sources.DeltaStats.prune(spark, snap2.active, "id > 100000", snap2)
      .isEmpty)
    // time travel below the upgrade replays the UNMAPPED schema
    val old = DeltaReader.read(spark, dir, Some(preVersion))
    assert(old.schema.fieldNames.toSeq == Seq("id", "v", "s"))
    assert(old.count() == 3)
    DeltaReader.validateChecksum(spark, dir, None)
  }

  test("column-mapping UPGRADE on a PARTITIONED table: dirs stay, partition rename is metadata-only") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_cmup_part_")
    LakeWriter.writeDelta(
      (0L until 12L).map(i => (i, s"v$i", s"p${i % 3}")).toDF("id", "v", "part"),
      dir, partitionBy = Seq("part"))
    LakeWriter.alterProperties(spark, dir, Map("delta.columnMapping.mode" -> "name"))
    def vals(): Set[(Long, String, String)] =
      DeltaReader.read(spark, dir).select("id", "v", "part")
        .as[(Long, String, String)].collect().toSet
    val expect0 = (0L until 12L).map(i => (i, s"v$i", s"p${i % 3}")).toSet
    assert(vals() == expect0)
    // appends after the upgrade keep the SAME physical directory layout
    LakeWriter.appendDelta(Seq((100L, "v100", "p1")).toDF("id", "v", "part"), dir)
    assert(vals() == expect0 + ((100L, "v100", "p1")))
    // partition-value pruning still rides the (physical-keyed) log
    assert(DeltaReader.readPartition(spark, dir, Map("part" -> "p1"))
      .count() == 5)
    // RENAME THE PARTITION COLUMN: metadata-only — directories and
    // partitionValues keys keep the physical name
    LakeWriter.renameColumn(spark, dir, "part", "bucket")
    val renamed = DeltaReader.read(spark, dir)
    assert(renamed.schema.fieldNames.toSeq == Seq("id", "v", "bucket"))
    assert(renamed.select("id", "v", "bucket").as[(Long, String, String)]
      .collect().toSet == expect0.map { case (i, v, p) => (i, v, p) } +
        ((100L, "v100", "p1")))
    // reads BY the new logical name prune through the physical keys
    assert(DeltaReader.readPartition(spark, dir, Map("bucket" -> "p2"))
      .count() == 4)
    assert(DeltaReader.readWhere(spark, dir, "bucket = 'p0'").count() == 4)
    // appends under the NEW logical name land in the OLD physical dirs
    LakeWriter.appendDelta(Seq((200L, "v200", "p2")).toDF("id", "v", "bucket"), dir)
    assert(DeltaReader.readWhere(spark, dir, "bucket = 'p2'").count() == 5)
    // a mutation on the renamed partitioned table stages correctly
    LakeWriter.deleteWhere(spark, dir, "bucket = 'p0'")
    assert(DeltaReader.read(spark, dir).where("bucket = 'p0'").count() == 0)
    assert(DeltaReader.read(spark, dir).count() == 10)
    DeltaReader.validateChecksum(spark, dir, None)
  }

  test("NESTED ALTER family: add s.score, rename s.x (physicalName stamped), drop s.tag") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_nested_")
    LakeWriter.writeDeltaMapped(spark.range(0, 3).selectExpr(
      "id", "named_struct('x', id * 2, 'tag', concat('t', id)) AS s").coalesce(1), dir)
    val max0 = DeltaReader.snapshot(spark, dir, None)
      .configuration("delta.columnMapping.maxColumnId").toLong

    // ADD: one nested + one top-level in the same commit
    LakeWriter.alterAddColumns(spark, dir,
      Seq("s.score" -> "DOUBLE", "top2" -> "STRING"))
    val snap1 = DeltaReader.snapshot(spark, dir, None)
    assert(snap1.configuration("delta.columnMapping.maxColumnId").toLong == max0 + 2)
    val sch1 = org.apache.spark.sql.types.DataType.fromJson(snap1.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val sT = sch1("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sT.fieldNames.toSeq == Seq("x", "tag", "score"))
    assert(sT("score").metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    assert(sch1("top2").metadata.contains("delta.columnMapping.id"))
    // old rows null-fill both additions
    val r0 = DeltaReader.read(spark, dir)
      .selectExpr("id", "s.x", "s.score", "top2").where("id = 1").collect().head
    assert(r0.getLong(1) == 2L && r0.isNullAt(2) && r0.isNullAt(3))
    // an append in the new shape lands values
    LakeWriter.appendDelta(spark.range(10, 11).selectExpr(
      "id", "named_struct('x', id * 2, 'tag', concat('t', id), " +
        "'score', CAST(id AS DOUBLE)) AS s", "concat('w', id) AS top2")
      .coalesce(1), dir)
    assert(DeltaReader.read(spark, dir).selectExpr("s.score").where("id = 10")
      .collect().head.getDouble(0) == 10.0)

    // RENAME a nested leaf that lacks per-level physicalName metadata:
    // the CURRENT name stamps as the physical name in the same commit,
    // so the files already on disk keep resolving
    LakeWriter.renameColumn(spark, dir, "s.x", "x2")
    val snap2 = DeltaReader.snapshot(spark, dir, None)
    assert(snap2.configuration("delta.columnMapping.maxColumnId").toLong == max0 + 3)
    val sT2 = org.apache.spark.sql.types.DataType.fromJson(snap2.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sT2.fieldNames.toSeq == Seq("x2", "tag", "score"))
    assert(sT2("x2").metadata.getString("delta.columnMapping.physicalName") == "x")
    val vals = DeltaReader.read(spark, dir).selectExpr("id", "s.x2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vals == Map(0L -> 0L, 1L -> 2L, 2L -> 4L, 10L -> 20L), vals.toString)
    // appends under the RENAMED logical shape stage the OLD physical name
    LakeWriter.appendDelta(spark.range(20, 21).selectExpr(
      "id", "named_struct('x2', id * 2, 'tag', concat('t', id), " +
        "'score', CAST(id AS DOUBLE)) AS s", "concat('w', id) AS top2")
      .coalesce(1), dir)
    assert(DeltaReader.read(spark, dir).selectExpr("s.x2").where("id = 20")
      .collect().head.getLong(0) == 40L)

    // DROP a nested leaf: hidden at latest, visible under time travel
    LakeWriter.dropColumn(spark, dir, "s.tag")
    val sT3 = DeltaReader.read(spark, dir).schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sT3.fieldNames.toSeq == Seq("x2", "score"))
    assert(DeltaReader.read(spark, dir, Some(snap2.version)).schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("tag"))
    DeltaReader.validateChecksum(spark, dir, None)

    // refusal battery
    val e1 = intercept[IllegalArgumentException](
      LakeWriter.alterAddColumns(spark, dir, Seq("id.sub" -> "LONG")))
    assert(e1.getMessage.contains("not a struct"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      LakeWriter.renameColumn(spark, dir, "s.x2", "s.y"))
    assert(e2.getMessage.contains("bare name"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      LakeWriter.alterAddColumns(spark, dir, Seq("s.score" -> "DOUBLE")))
    assert(e3.getMessage.contains("already exists"), e3.getMessage)

    // the SQL spellings route to the same dotted-path commands
    spark.sql(s"ALTER TABLE graft_delta.`$dir` ADD COLUMNS (s.w2 STRING)")
    spark.sql(s"ALTER TABLE graft_delta.`$dir` RENAME COLUMN s.w2 TO w3")
    val sqlT = DeltaReader.read(spark, dir).schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sqlT.fieldNames.toSeq == Seq("x2", "score", "w3"), sqlT.fieldNames.toSeq)
    spark.sql(s"ALTER TABLE graft_delta.`$dir` DROP COLUMN s.w3")
    assert(DeltaReader.read(spark, dir).schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("x2", "score"))
  }

  test("ADD COLUMNS edge battery: typo'd parent refuses, SQL COMMENT threads, NOT NULL refuses, map-of-struct gets per-level ids") {
    import org.apache.spark.sql.types.{StructType, MapType, ArrayType}
    val dir = tmp("graft_alter_edge_")
    LakeWriter.writeDeltaMapped(spark.range(0, 2).selectExpr(
      "id", "named_struct('x', id) AS address").coalesce(1), dir)
    // a typo'd parent is an ERROR — never an auto-created sibling struct
    val e = intercept[IllegalArgumentException](
      LakeWriter.alterAddColumns(spark, dir, Seq("adress.zip" -> "STRING")))
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    assert(!DeltaReader.read(spark, dir).columns.contains("adress"))
    // SQL ADD COLUMNS carries COMMENT into the new leaf's metadata
    spark.sql(s"ALTER TABLE graft_delta.`$dir` ADD COLUMNS " +
      "(note STRING COMMENT 'freeform note', address.zip STRING COMMENT 'postal code')")
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      DeltaReader.snapshot(spark, dir, None).schemaJson).asInstanceOf[StructType]
    assert(sch("note").metadata.getString("comment") == "freeform note")
    assert(sch("note").metadata.contains("delta.columnMapping.id"))
    val aT = sch("address").dataType.asInstanceOf[StructType]
    assert(aT("zip").metadata.getString("comment") == "postal code")
    assert(aT("zip").metadata.contains("delta.columnMapping.id"))
    // NOT NULL adds refuse loudly (existing rows read null)
    val e2 = intercept[UnsupportedOperationException](
      spark.sql(s"ALTER TABLE graft_delta.`$dir` ADD COLUMNS (must STRING NOT NULL)"))
    assert(e2.getMessage.contains("NOT NULL"), e2.getMessage)
    // a NEW map-of-struct (and array-of-array-of-struct) column on a
    // mapped table carries ids + physical names at EVERY level —
    // walkT's recursion mirrored into evolution
    LakeWriter.alterAddColumns(spark, dir, Seq(
      "attrs" -> "map<string, struct<a: bigint, b: string>>",
      "mat" -> "array<array<struct<q: bigint>>>"))
    val sch2 = org.apache.spark.sql.types.DataType.fromJson(
      DeltaReader.snapshot(spark, dir, None).schemaJson).asInstanceOf[StructType]
    val attrsV = sch2("attrs").dataType.asInstanceOf[MapType]
      .valueType.asInstanceOf[StructType]
    Seq("a", "b").foreach { n =>
      assert(attrsV(n).metadata.contains("delta.columnMapping.id"), n)
      assert(attrsV(n).metadata.getString("delta.columnMapping.physicalName")
        .startsWith("col-"), n)
    }
    val matQ = sch2("mat").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]("q")
    assert(matQ.metadata.contains("delta.columnMapping.id"))
    assert(matQ.metadata.getString("delta.columnMapping.physicalName")
      .startsWith("col-"))
    // ids unique across the whole schema, maxColumnId bounds them
    def ids(dt: org.apache.spark.sql.types.DataType): Seq[Long] = dt match {
      case st: StructType => st.fields.toSeq.flatMap(f =>
        (if (f.metadata.contains("delta.columnMapping.id"))
          Seq(f.metadata.getLong("delta.columnMapping.id")) else Nil) ++ ids(f.dataType))
      case at: ArrayType => ids(at.elementType)
      case mt: MapType => ids(mt.keyType) ++ ids(mt.valueType)
      case _ => Nil
    }
    val allIds = ids(sch2)
    assert(allIds.distinct.size == allIds.size, s"duplicate CM ids: $allIds")
    assert(allIds.max == DeltaReader.snapshot(spark, dir, None)
      .configuration("delta.columnMapping.maxColumnId").toLong)
    // and the evolved shape round-trips through the physical staging
    LakeWriter.appendDelta(spark.range(5, 6).selectExpr(
      "id", "named_struct('x', id, 'zip', '12345') AS address",
      "'n' AS note", "map('k', named_struct('a', id, 'b', 'bb')) AS attrs",
      "array(array(named_struct('q', id))) AS mat").coalesce(1), dir)
    val r = DeltaReader.read(spark, dir)
      .selectExpr("address.zip", "attrs['k'].a", "mat[0][0].q")
      .where("id = 5").collect().head
    assert(r.getString(0) == "12345" && r.getLong(1) == 5L && r.getLong(2) == 5L)
  }

  test("column comments + foreign metaData fidelity: description survives ALTER commits") {
    val s = spark
    import s.implicits._
    // a FOREIGN table whose metaData carries name/description/createdTime
    val dirF = java.nio.file.Files.createTempDirectory("graft_alter_desc_").toFile
    val log = new java.io.File(dirF, "_delta_log"); log.mkdirs()
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.write(new java.io.File(log, "0" * 20 + ".json").toPath, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"dsc","name":"events_gold","description":"curated events","createdTime":1700000000000,"format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(schema.json)},"partitionColumns":[],"configuration":{}}}"""
    ).mkString("\n").getBytes("UTF-8"))
    val dir = dirF.getPath
    // a COMMENT on a column (one metadata commit)...
    LakeWriter.alterColumnComment(spark, dir, "v", Some("the value"))
    // ...and an ADD COLUMNS — both must restate the RAW metaData node,
    // so the foreign name/description/createdTime survive
    LakeWriter.alterAddColumns(spark, dir, Seq("w" -> "DOUBLE"))
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(log, f"${2L}%020d.json").toPath)
    import scala.jdk.CollectionConverters._
    val mdLine = lines.asScala.find(_.contains("metaData")).get
    val md = om.readTree(mdLine).get("metaData")
    assert(md.get("name").asText() == "events_gold", mdLine)
    assert(md.get("description").asText() == "curated events", mdLine)
    assert(md.get("createdTime").asLong() == 1700000000000L, mdLine)
    // row-tracking enablement (v3) and a history-truncating DROP FEATURE
    // (v5, after CLUSTER BY at v4) restate the same raw node
    LakeWriter.enableRowTracking(spark, dir)
    LakeWriter.clusterBy(spark, dir, Seq("id"))
    LakeWriter.dropFeature(spark, dir, "clustering", truncateHistory = true)
    Seq(3L, 5L).foreach { v =>
      val line = java.nio.file.Files.readAllLines(new java.io.File(log, f"$v%020d.json").toPath)
        .asScala.find(_.startsWith("""{"metaData"""")).get
      val m = om.readTree(line).get("metaData")
      assert(m.path("name").asText() == "events_gold" &&
        m.path("description").asText() == "curated events" &&
        m.path("createdTime").asLong() == 1700000000000L, line)
    }
    // the comment itself landed in the schemaString metadata
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      DeltaReader.snapshot(spark, dir, None).schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sch("v").metadata.getString("comment") == "the value")
    // SQL spelling, nested target on a struct table
    val dir2 = tmp("graft_alter_cmt2_")
    LakeWriter.writeDelta(spark.range(0, 2).selectExpr(
      "id", "named_struct('x', id * 2) AS s").coalesce(1), dir2)
    spark.sql(s"ALTER TABLE graft_delta.`$dir2` ALTER COLUMN s.x COMMENT 'doubled id'")
    val sch2 = org.apache.spark.sql.types.DataType.fromJson(
      DeltaReader.snapshot(spark, dir2, None).schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sch2("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]("x")
      .metadata.getString("comment") == "doubled id")
    // comments never break reads or later drops
    assert(DeltaReader.read(spark, dir2).count() == 2)
  }

  test("upgradeProtocol: versions only rise, features never drop, gates then bind") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_up_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v").coalesce(1), dir)
    LakeWriter.upgradeProtocol(spark, dir, 1, 4) // CDF writer floor
    val snap = DeltaReader.snapshot(spark, dir, None)
    assert(snap.minWriter == 4L)
    // downgrade refuses
    val e = intercept[IllegalArgumentException](
      LakeWriter.upgradeProtocol(spark, dir, 1, 2))
    assert(e.getMessage.contains("DOWNGRADE"))
    // upgrade to the feature-table form with a feature graft reads
    LakeWriter.upgradeProtocol(spark, dir, 3, 7,
      readerFeatures = Seq("deletionVectors"), writerFeatures = Seq("deletionVectors"))
    val snap2 = DeltaReader.snapshot(spark, dir, None)
    assert(snap2.minReader == 3L && snap2.readerFeatures == Seq("deletionVectors"))
    assert(DeltaReader.read(spark, dir).count() == 1) // still readable
    LakeWriter.appendDelta(Seq((1L, "b")).toDF("id", "v").coalesce(1), dir)
    // an upgrade adding a writer feature graft cannot honor makes
    // graft's OWN writers refuse — the protection upgrades exist for
    LakeWriter.upgradeProtocol(spark, dir, 3, 7, writerFeatures = Seq("rowTracking"))
    val e2 = intercept[IllegalArgumentException](
      LakeWriter.appendDelta(Seq((2L, "c")).toDF("id", "v").coalesce(1), dir))
    assert(e2.getMessage.contains("rowTracking"))
  }

  test("appendOnly enabled via alterProperties is enforced by mutations") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_ao_")
    LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v").coalesce(1), dir)
    LakeWriter.alterProperties(spark, dir, Map("delta.appendOnly" -> "true"))
    val e = intercept[IllegalArgumentException](
      LakeWriter.deleteWhere(spark, dir, "id = 0"))
    assert(e.getMessage.toLowerCase.contains("appendonly") ||
      e.getMessage.contains("append-only"))
    // appends still work
    LakeWriter.appendDelta(Seq((1L, "b")).toDF("id", "v").coalesce(1), dir)
    assert(DeltaReader.read(spark, dir).count() == 2)
  }

  test("a column re-added under a renamed column's old name gets its own physical column; removing the mapping keeps both") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_alter_readd_")
    LakeWriter.writeDeltaMapped(Seq((0L, "a")).toDF("id", "v").coalesce(1), dir)
    LakeWriter.renameColumn(spark, dir, "v", "x")
    LakeWriter.alterAddColumns(spark, dir, Seq("v" -> "string"))
    val phys = org.apache.spark.sql.types.DataType
      .fromJson(DeltaReader.snapshot(spark, dir, None).schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(_.metadata.getString("delta.columnMapping.physicalName"))
    assert(phys.distinct.length == phys.length, phys.mkString(","))
    LakeWriter.appendDelta(Seq((1L, "b", "c")).toDF("id", "x", "v").coalesce(1), dir)
    LakeWriter.removeColumnMapping(spark, dir)
    val got = DeltaReader.read(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set((0L, "a", None), (1L, "b", Some("c"))), got.toString)
  }
}
