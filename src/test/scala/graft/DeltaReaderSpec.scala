package graft

import graft.sources.{DeltaReader, LakeWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Fixtures are hand-written against the PUBLIC Delta protocol
  * (PROTOCOL.md): parquet part files + JSON commit lines + a classic
  * checkpoint — no delta-spark involved, which is the point (the
  * reader must work from the spec alone).
  */
class DeltaReaderSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("src", StringType)))
  private val dataSchema = StructType(schema.fields.filterNot(_.name == "src"))

  /** Writes rows as a single parquet part file, returns its relative name. */
  private def part(dir: java.io.File, name: String, rows: Seq[(Long, String)]): String = {
    val s = spark
    import s.implicits._
    val stage = new java.io.File(dir, s"_stage_$name")
    rows.toDF("id", "v").coalesce(1).write.parquet(stage.getPath)
    val f = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new java.io.File(dir, name)
    java.nio.file.Files.move(f.toPath, dest.toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    name
  }

  private def commit(log: java.io.File, version: Long, lines: Seq[String]): Unit = {
    val f = new java.io.File(log, f"$version%020d.json")
    java.nio.file.Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
  }

  private def meta(partCols: String) =
    s"""{"metaData":{"id":"t1","format":{"provider":"parquet","options":{}},"schemaString":${
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .writeValueAsString(schema.json)},"partitionColumns":[$partCols],"configuration":{}}}"""

  private def add(path: String, src: String) =
    s"""{"add":{"path":"$path","partitionValues":{"src":"$src"},"size":1,"modificationTime":1,"dataChange":true}}"""

  private def mkTable(): (java.io.File, java.io.File) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_").toFile
    val log = new java.io.File(dir, "_delta_log")
    log.mkdirs()
    (dir, log)
  }

  private def collected(df: DataFrame): Set[(Long, String, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("delta snapshot replays add/remove across commits, typed partition columns from the log") {
    val (dir, log) = mkTable()
    val f1 = part(dir, "part-0001.parquet", Seq((1L, "a"), (2L, "b")))
    val f2 = part(dir, "part-0002.parquet", Seq((3L, "c")))
    val f3 = part(dir, "part-0003.parquet", Seq((4L, "d")))
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      meta("\"src\""), add(f1, "web"), add(f2, "book")))
    commit(log, 1, Seq(
      s"""{"remove":{"path":"$f2","dataChange":true}}""", add(f3, "web")))
    val df = DeltaReader.read(spark, dir.getPath)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "src"))
    assert(collected(df) ==
      Set((1L, "a", "web"), (2L, "b", "web"), (4L, "d", "web")))
    // time travel: version 0 still sees f2, not f3
    assert(collected(DeltaReader.read(spark, dir.getPath, Some(0L))) ==
      Set((1L, "a", "web"), (2L, "b", "web"), (3L, "c", "book")))
    // LakeReader front door dispatches directories with _delta_log
    assert(collected(graft.sources.LakeReader.read(spark, dir.getPath)) ==
      collected(df))
  }

  test("delta checkpoint is the replay base; later JSON commits apply on top") {
    val s = spark
    import s.implicits._
    val (dir, log) = mkTable()
    val f1 = part(dir, "part-0001.parquet", Seq((1L, "a")))
    val f2 = part(dir, "part-0002.parquet", Seq((2L, "b")))
    // checkpoint at version 1 carries the metaData + f1's add
    val cpRows = Seq(
      s"""{"metaData":{"id":"t1","schemaString":${
        com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(schema.json)},"partitionColumns":["src"]}}""",
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"add":{"path":"$f1","partitionValues":{"src":"web"},"size":1}}""")
    // explicit action schema: real checkpoints store partitionValues as
    // map<string,string>, which JSON inference would turn into a struct
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues",
          org.apache.spark.sql.types.MapType(StringType, StringType)),
        StructField("size", LongType)))),
      StructField("remove", StructType(Seq(StructField("path", StringType)))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns",
          org.apache.spark.sql.types.ArrayType(StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", LongType),
        StructField("minWriterVersion", LongType))))))
    spark.read.schema(cpSchema).json(cpRows.toDS).coalesce(1)
      .write.parquet(new java.io.File(log, "_cp_stage").getPath)
    val cpf = new java.io.File(log, "_cp_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(cpf.toPath,
      new java.io.File(log, f"${1L}%020d.checkpoint.parquet").toPath)
    // JSON commit AFTER the checkpoint adds f2
    commit(log, 2, Seq(s"""{"add":{"path":"$f2","partitionValues":{"src":"book"},"size":1,"dataChange":true}}"""))
    val df = DeltaReader.read(spark, dir.getPath)
    assert(collected(df) == Set((1L, "a", "web"), (2L, "b", "book")))
  }

  test("writeDelta/appendDelta round-trip through the reader with time travel") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_w_").toFile
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v1 = Seq((3L, "c")).toDF("id", "v")
    graft.sources.LakeWriter.writeDelta(v0, dir.getPath)
    graft.sources.LakeWriter.appendDelta(v1, dir.getPath)
    def rows(df: DataFrame) = df.select("id", "v").as[(Long, String)].collect().toSet
    assert(rows(DeltaReader.read(spark, dir.getPath)) ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows(DeltaReader.read(spark, dir.getPath, Some(0L))) ==
      Set((1L, "a"), (2L, "b")))
  }

  test("writer checkpoints every N commits; reader replays across and from them") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_cp_").toFile
    graft.sources.LakeWriter.writeDelta(Seq((0L, "v0")).toDF("id", "v"),
      dir.getPath, checkpointInterval = 10)
    (1 to 25).foreach { i =>
      graft.sources.LakeWriter.appendDelta(Seq((i.toLong, s"v$i")).toDF("id", "v"),
        dir.getPath, checkpointInterval = 10)
    }
    val log = new java.io.File(dir, "_delta_log")
    assert(new java.io.File(log, f"${10L}%020d.checkpoint.parquet").isFile)
    assert(new java.io.File(log, f"${20L}%020d.checkpoint.parquet").isFile)
    assert(new java.io.File(log, "_last_checkpoint").isFile)
    // the hint carries delta-spark's sizing fields: a reader budgets
    // the replay scan without listing the checkpoint parts
    locally {
      val hint = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new java.io.File(log, "_last_checkpoint"))
      assert(hint.get("version").asLong() == 20L)
      assert(hint.get("numOfAddFiles").asLong() == 21L, hint.toString)
      assert(hint.get("sizeInBytes").asLong() ==
        new java.io.File(log, f"${20L}%020d.checkpoint.parquet").length(), hint.toString)
    }
    // the writer's checkpoint stores protocol versions as int32, like
    // real delta-spark checkpoints — this doubles as the regression
    // fixture for the reader's Number-based access (getLong would throw)
    val cpSchema = spark.read
      .parquet(new java.io.File(log, f"${20L}%020d.checkpoint.parquet").getPath).schema
    val proto = cpSchema("protocol").dataType.asInstanceOf[StructType]
    assert(proto("minReaderVersion").dataType ==
      org.apache.spark.sql.types.IntegerType)
    def rows(df: DataFrame) = df.select("id", "v").as[(Long, String)].collect().toSet
    val all = (0 to 25).map(i => (i.toLong, s"v$i")).toSet
    assert(rows(DeltaReader.read(spark, dir.getPath)) == all)
    // time travel ACROSS the checkpoint boundary: base = checkpoint 10,
    // then JSON commits 11..15 on top
    assert(rows(DeltaReader.read(spark, dir.getPath, Some(15L))) ==
      all.filter(_._1 <= 15))
    // ...and to a pre-checkpoint version, replayed from JSON alone
    assert(rows(DeltaReader.read(spark, dir.getPath, Some(5L))) ==
      all.filter(_._1 <= 5))
    // retention cleans commits ≤ 20: latest still reads (base =
    // checkpoint 20 + commits 21..25), pre-checkpoint version refuses
    (0 to 20).foreach(i => new java.io.File(log, f"$i%020d.json").delete())
    assert(rows(DeltaReader.read(spark, dir.getPath)) == all)
    val ex = intercept[IllegalArgumentException] {
      DeltaReader.read(spark, dir.getPath, Some(5L)).collect()
    }
    assert(ex.getMessage.contains("partial snapshot") ||
      ex.getMessage.contains("not present"), ex.getMessage)
  }

  test("appendDelta works on a retention-cleaned table; checkpoint actions are protocol-complete") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_rc_").toFile
    graft.sources.LakeWriter.writeDelta(Seq((0L, "v0")).toDF("id", "v"),
      dir.getPath, checkpointInterval = 5)
    (1 to 5).foreach { i =>
      graft.sources.LakeWriter.appendDelta(Seq((i.toLong, s"v$i")).toDF("id", "v"),
        dir.getPath, checkpointInterval = 5)
    }
    val log = new java.io.File(dir, "_delta_log")
    val cpFile = new java.io.File(log, f"${5L}%020d.checkpoint.parquet")
    assert(cpFile.isFile)
    // the checkpoint must carry the protocol-REQUIRED action fields —
    // graft's reader copes without them, a real delta-spark reader
    // does not
    val cp = spark.read.parquet(cpFile.getPath)
    val adds = cp.where("add IS NOT NULL")
      .select("add.path", "add.size", "add.modificationTime", "add.dataChange").collect()
    assert(adds.length == 6)
    assert(adds.forall(r => r.getLong(1) > 0L), "add.size must be the real file size")
    assert(adds.forall(r => !r.isNullAt(2) && r.getBoolean(3)))
    val md = cp.where("metaData IS NOT NULL")
      .select("metaData.format.provider", "metaData.configuration", "metaData.id").head()
    assert(md.getString(0) == "parquet")
    assert(!md.isNullAt(1) && !md.isNullAt(2))
    // log retention: every JSON commit at or below the checkpoint goes
    // away — the exact state the old `.max`-over-commits version
    // counter crashed on
    (0 to 5).foreach(i => new java.io.File(log, f"$i%020d.json").delete())
    graft.sources.LakeWriter.appendDelta(Seq((99L, "v99")).toDF("id", "v"), dir.getPath)
    assert(new java.io.File(log, f"${6L}%020d.json").isFile,
      "append after retention must continue the version chain from the checkpoint")
    val rows = graft.sources.DeltaReader.read(spark, dir.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(rows == ((0 to 5).map(i => (i.toLong, s"v$i")).toSet + ((99L, "v99"))))
  }

  test("two writers racing to one commit version: pure appends rebase, others fail loudly") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_race_").toFile
    graft.sources.LakeWriter.writeDelta(Seq((0L, "a")).toDF("id", "v"), dir.getPath)
    graft.sources.LakeWriter.appendDelta(Seq((1L, "b")).toDF("id", "v"), dir.getPath)
    // a concurrent writer already committed version 1 — a PURE append
    // targeting it rebases onto version 2 (the winner carried only file
    // actions, so the loser's read set is intact; never an overwrite)
    graft.sources.LakeWriter.commitDelta(Seq((2L, "c")).toDF("id", "v"),
      dir.getPath, 1L, includeMeta = false, checkpointInterval = 0)
    assert(graft.sources.DeltaReader.snapshot(spark, dir.getPath, None).version == 2L)
    val rows = graft.sources.DeltaReader.read(spark, dir.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(rows == Set((0L, "a"), (1L, "b"), (2L, "c")))
    // a txn-carrying commit must NOT rebase (per-app version ordering):
    // the race stays a loud failure and the loser's staged data never
    // becomes live
    val e = intercept[IllegalStateException] {
      graft.sources.LakeWriter.commitDelta(Seq((3L, "d")).toDF("id", "v"),
        dir.getPath, 1L, includeMeta = false, checkpointInterval = 0,
        txn = Some(("app", 1L)))
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    val rows2 = graft.sources.DeltaReader.read(spark, dir.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(rows2 == Set((0L, "a"), (1L, "b"), (2L, "c")))
  }

  test("delta column mapping (name mode): physical parquet names remap to the logical schema") {
    val s = spark
    import s.implicits._
    val (dir, log) = mkTable()
    // the data file carries PHYSICAL names, as delta-spark writes them
    val stage = new java.io.File(dir, "_stage_cm")
    Seq((1L, "a"), (2L, "b")).toDF("col-aaaa", "col-bbbb")
      .coalesce(1).write.parquet(stage.getPath)
    val f = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(f.toPath, new java.io.File(dir, "part-cm.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    def fld(name: String, tpe: String, phys: String, id: Int) =
      StructField(name, if (tpe == "long") LongType else StringType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", "long", "col-aaaa", 1), fld("v", "string", "col-bbbb", 2),
      fld("src", "string", "col-cccc", 3)))
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm1","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(logical.json)},"partitionColumns":["src"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}""",
      // partitionValues keyed by the PHYSICAL partition-column name
      """{"add":{"path":"part-cm.parquet","partitionValues":{"col-cccc":"web"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df = DeltaReader.read(spark, dir.getPath)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "src"))
    assert(collected(df) == Set((1L, "a", "web"), (2L, "b", "web")))
  }

  test("column mapping ID mode resolves by parquet field id, not by name") {
    import org.apache.spark.sql.types._
    val (dir, log) = mkTable()
    // the parquet file carries DECOY column names — only the field ids
    // line up with the log's columnMapping ids, so a name-resolving
    // reader would null-fill and a field-id reader gets the values
    val fileSchema = StructType(Seq(
      StructField("decoy_a", LongType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 1L).build()),
      StructField("decoy_b", StringType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 2L).build())))
    val stage = new java.io.File(dir, "_stage_idmode")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(7L, "x"),
        org.apache.spark.sql.Row(8L, "y")), 1), fileSchema)
      .coalesce(1).write.parquet(stage.getPath)
    val pf = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(pf.toPath,
      new java.io.File(dir, "part-idmode.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    def fld(n: String, t: String, phys: String, id: Long) =
      StructField(n, DataType.fromDDL(t).asInstanceOf[DataType], nullable = true,
        new MetadataBuilder().putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", "long", "col-phys-a", 1), fld("v", "string", "col-phys-b", 2)))
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cmid","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(logical.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}""",
      """{"add":{"path":"part-idmode.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df = DeltaReader.read(spark, dir.getPath)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    val got = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((7L, "x"), (8L, "y")), got.toString)
    // id-mode WRITES are supported since r15 (field-id staging): the
    // copy-on-write delete rewrites the decoy-named file into the
    // table's physical shape and the surviving row still resolves
    graft.sources.LakeWriter.deleteWhere(spark, dir.getPath, "id = 7")
    val after = DeltaReader.read(spark, dir.getPath).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == Set((8L, "y")), after.toString)
  }

  test("id-mode APPEND stages parquet field ids at every level; data round-trips and stats prune") {
    import org.apache.spark.sql.types._
    val (dir, log) = mkTable()
    // foreign id-mode table: flat id/v plus a nested struct s{x}, the
    // existing file decoy-named with only field ids lining up
    val fileSchema = StructType(Seq(
      StructField("decoy_a", LongType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 1L).build()),
      StructField("decoy_b", StringType, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", 2L).build()),
      StructField("decoy_s", StructType(Seq(
        StructField("decoy_x", LongType, nullable = true, new MetadataBuilder()
          .putLong("parquet.field.id", 4L).build()))), nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 3L).build())))
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val stage = new java.io.File(dir, "_stage_idap")
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "a", org.apache.spark.sql.Row(10L)),
        org.apache.spark.sql.Row(2L, "b", org.apache.spark.sql.Row(20L))), 1), fileSchema)
      .coalesce(1).write.parquet(stage.getPath)
    val pf0 = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(pf0.toPath,
      new java.io.File(dir, "part-id0.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    def fld(n: String, t: DataType, phys: String, id: Long) =
      StructField(n, t, nullable = true, new MetadataBuilder()
        .putString("delta.columnMapping.physicalName", phys)
        .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", LongType, "col-pa", 1),
      fld("v", StringType, "col-pb", 2),
      fld("s", StructType(Seq(fld("x", LongType, "col-px", 4))), "col-ps", 3)))
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"idap","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(logical.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"4"}}}""",
      """{"add":{"path":"part-id0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))

    // the append: LOGICAL column names in, field-id parquet out
    val appended = spark.range(100, 103).selectExpr(
      "id", "concat('v', id) AS v", "named_struct('x', id * 10) AS s").coalesce(1)
    graft.sources.LakeWriter.appendDelta(appended, dir.getPath)

    // round-trip: both the foreign file and the appended one resolve
    val got = DeltaReader.read(spark, dir.getPath)
      .selectExpr("id", "v", "s.x").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 10L), (2L, "b", 20L),
      (100L, "v100", 1000L), (101L, "v101", 1010L), (102L, "v102", 1020L)), got)

    // the staged file carries FIELD IDS at every level (the id-mode
    // read contract) and physical TOP-LEVEL names (the stats key
    // domain id-mode readers expect)
    val snap = DeltaReader.snapshot(spark, dir.getPath, None)
    val newAdd = snap.active.find(_.path != "part-id0.parquet").get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.getPath, newAdd.path),
        spark.sessionState.newHadoopConf()))
    val msg = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    import scala.jdk.CollectionConverters._
    val top = msg.getFields.asScala.map(f => f.getName -> Option(f.getId).map(_.intValue))
    assert(top.toSet == Set("col-pa" -> Some(1), "col-pb" -> Some(2), "col-ps" -> Some(3)),
      top.toString)
    val inner = msg.getFields.asScala.find(_.getName == "col-ps").get
      .asGroupType().getFields.asScala
      .map(f => f.getName -> Option(f.getId).map(_.intValue)).toSeq
    assert(inner == Seq("col-px" -> Some(4)),
      s"nested physical name + field id must ride the staged file: $inner")

    // stats key by the full dotted PHYSICAL path, and the id-mode
    // pruner (r15) skips on them — nested leaves included
    assert(newAdd.stats.isDefined)
    val mv = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(newAdd.stats.get).get("minValues")
    assert(mv.has("col-pa") && mv.get("col-pa").asLong() == 100L, mv.toString)
    assert(mv.get("col-ps").get("col-px").asLong() == 1000L, mv.toString)
    // the appended file's stats are LIVE under the id-mode pruner: a
    // predicate outside its bounds drops it (the stats-less foreign
    // file stays, may-match — sound); struct leaves prune too
    val kept = graft.sources.DeltaStats.prune(spark, snap.active, "id > 1000", snap)
    assert(kept.map(_.path) == Seq("part-id0.parquet"),
      s"id-mode skipping must drop the appended file: ${kept.map(_.path)}")
    val keptN = graft.sources.DeltaStats.prune(spark, snap.active, "s.x > 5000", snap)
    assert(keptN.map(_.path) == Seq("part-id0.parquet"),
      s"nested id-mode skipping must drop the appended file: ${keptN.map(_.path)}")
  }

  test("unknown v3 reader features stay refused") {
    val (dir2, log2) = mkTable()
    val f2 = part(dir2, "part-0001.parquet", Seq((1L, "a")))
    commit(log2, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["someFutureFeature"]}}""",
      meta("\"src\""), add(f2, "web")))
    val e2 = intercept[IllegalArgumentException] {
      DeltaReader.read(spark, dir2.getPath)
    }
    assert(e2.getMessage.contains("someFutureFeature"), e2.getMessage)
  }

  test("delta.checkpointInterval property drives the commit funnel's checkpoint cadence") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_cpprop_").toFile
    // no caller-side interval anywhere — the TABLE property bounds the
    // replay suffix for every writer
    LakeWriter.writeDelta(Seq((0L, "v0")).toDF("id", "v"), dir.getPath,
      configuration = Map("delta.checkpointInterval" -> "4"))
    (1 to 9).foreach { i =>
      LakeWriter.appendDelta(Seq((i.toLong, s"v$i")).toDF("id", "v"), dir.getPath)
    }
    val log = new java.io.File(dir, "_delta_log")
    assert(new java.io.File(log, f"${4L}%020d.checkpoint.parquet").isFile)
    assert(new java.io.File(log, f"${8L}%020d.checkpoint.parquet").isFile)
    // replay THROUGH the property-driven checkpoint: clean a covered commit
    assert(new java.io.File(log, "0" * 20 + ".json").delete())
    assert(DeltaReader.read(spark, dir.getPath).count() == 10L)
    // the cadence rides MUTATION commits too (the commitOrThrow funnel,
    // not just appends): a merge-on-read delete landing on v12
    LakeWriter.appendDelta(Seq((10L, "v10")).toDF("id", "v"), dir.getPath) // v10
    LakeWriter.appendDelta(Seq((11L, "v11")).toDF("id", "v"), dir.getPath) // v11
    assert(LakeWriter.deleteWhereDv(spark, dir.getPath, "id = 3").nonEmpty) // v12
    assert(new java.io.File(log, f"${12L}%020d.checkpoint.parquet").isFile,
      "delta.checkpointInterval must checkpoint mutation commits on the cadence")
    assert(DeltaReader.read(spark, dir.getPath).count() == 11L)
  }

  test("vacuumProtocolCheck: foreign tables read; upgrade declares; vacuum and drop honor it") {
    val s = spark
    import s.implicits._
    // a foreign table declaring the (3,7) feature reads green — the
    // feature mandates nothing graft's vacuum doesn't already do
    // (snapshot resolve through the full protocol gate)
    val (dir2, log2) = mkTable()
    val f2 = part(dir2, "part-0001.parquet", Seq((1L, "a")))
    commit(log2, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["vacuumProtocolCheck"],"writerFeatures":["vacuumProtocolCheck"]}}""",
      meta("\"src\""), add(f2, "web")))
    assert(DeltaReader.read(spark, dir2.getPath).count() == 1L)
    // appends and vacuum work on it (the feature is writer-safe)
    LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "v")
      .withColumn("src", org.apache.spark.sql.functions.lit("web")), dir2.getPath)
    assert(LakeWriter.vacuumDelta(spark, dir2.getPath, horizonVersion = 1L).isEmpty)
    assert(DeltaReader.read(spark, dir2.getPath).count() == 2L)

    // declare on request via upgradeProtocol; DROP FEATURE removes it
    val d = java.nio.file.Files.createTempDirectory("graft_vpc_").resolve("t").toString
    LakeWriter.writeDelta(Seq((1L, "x")).toDF("id", "v"), d)
    LakeWriter.upgradeProtocol(spark, d, 3, 7,
      readerFeatures = Seq("vacuumProtocolCheck"),
      writerFeatures = Seq("vacuumProtocolCheck"))
    val up = DeltaReader.snapshot(spark, d, None)
    assert(up.readerFeatures.contains("vacuumProtocolCheck") &&
      up.writerFeatures.contains("vacuumProtocolCheck"))
    LakeWriter.dropFeature(spark, d, "vacuumProtocolCheck")
    val down = DeltaReader.snapshot(spark, d, None)
    assert(!down.readerFeatures.contains("vacuumProtocolCheck") &&
      !down.writerFeatures.contains("vacuumProtocolCheck"))
    assert(down.minReader == 1L, s"reader version must fall back, got ${down.minReader}")
    assert(DeltaReader.read(spark, d).count() == 1L)
  }

  test("add.path decoding is RFC percent-decoding, not form-urlencoding") {
    // '+' is a literal plus in a percent-encoded path; %20 is a space
    assert(graft.sources.DeltaReader.percentDecode("a+b.parquet") == "a+b.parquet")
    assert(graft.sources.DeltaReader.percentDecode("a%20b.parquet") == "a b.parquet")
    assert(graft.sources.DeltaReader.percentDecode("x%2By.parquet") == "x+y.parquet")
    // non-BMP characters survive (surrogate pairs must not be split)
    assert(graft.sources.DeltaReader.percentDecode("data-😀.parquet")
      == "data-😀.parquet")
    // malformed escapes fail loudly, not as NumberFormatException
    val ex = intercept[IllegalArgumentException] {
      graft.sources.DeltaReader.percentDecode("100%x2.parquet")
    }
    assert(ex.getMessage.contains("percent escape"))
    intercept[IllegalArgumentException] {
      graft.sources.DeltaReader.percentDecode("bad%2")
    }
  }

  test("delta reader refuses a commit chain with a gap below the target") {
    val dir = java.nio.file.Files.createTempDirectory("delta_gap")
    val log = dir.resolve("_delta_log")
    java.nio.file.Files.createDirectories(log)
    val meta = """{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","partitionColumns":[],"configuration":{}}}"""
    // commit 1 exists, commit 0 was "cleaned" and no checkpoint covers it
    java.nio.file.Files.writeString(log.resolve(f"${1L}%020d.json"),
      meta + "\n" + """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":0,"dataChange":true}}""")
    val ex = intercept[IllegalArgumentException] {
      graft.sources.DeltaReader.read(spark, dir.toString)
    }
    assert(ex.getMessage.contains("partial snapshot"), ex.getMessage)
  }

  test("delta reader refuses minReaderVersion > 1 loudly") {
    val (dir, log) = mkTable()
    val f1 = part(dir, "part-0001.parquet", Seq((1L, "a")))
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7}}""",
      meta("\"src\""), add(f1, "web")))
    val e = intercept[IllegalArgumentException] {
      DeltaReader.read(spark, dir.getPath).collect()
    }
    assert(e.getMessage.contains("minReaderVersion"))
  }

  test("partitioned writeDelta: hive layout, log-typed values, appends, nulls, escapes") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_part_").toFile
    val v0 = Seq((1L, "a", "web"), (2L, "b", "book"), (3L, "c", null: String))
      .toDF("id", "v", "src")
    graft.sources.LakeWriter.writeDelta(v0, dir.getPath, partitionBy = Seq("src"))
    // hive layout on disk; the data files do NOT contain the partition
    // column (the reader re-attaches it from add.partitionValues)
    assert(new java.io.File(dir, "src=web").isDirectory)
    assert(new java.io.File(dir, "src=__HIVE_DEFAULT_PARTITION__").isDirectory)
    val onDisk = spark.read
      .parquet(new java.io.File(dir, "src=web").getPath)
    assert(onDisk.schema.fieldNames.toSeq == Seq("id", "v"))
    def rows(df: DataFrame) = df.select("id", "v", "src")
      .as[(Long, String, String)].collect().toSet
    val back = DeltaReader.read(spark, dir.getPath)
    assert(back.schema.fieldNames.toSeq == Seq("id", "v", "src"))
    assert(rows(back) == Set((1L, "a", "web"), (2L, "b", "book"), (3L, "c", null)))
    // an append inherits the table's partitioning from the snapshot
    graft.sources.LakeWriter.appendDelta(
      Seq((4L, "d", "web")).toDF("id", "v", "src"), dir.getPath)
    assert(rows(DeltaReader.read(spark, dir.getPath)) ==
      Set((1L, "a", "web"), (2L, "b", "book"), (3L, "c", null), (4L, "d", "web")))
    assert(new java.io.File(dir, "src=web").listFiles()
      .count(_.getName.endsWith(".parquet")) == 2,
      "the appended file must land under its partition directory")
    // a partition value needing path escaping survives the round trip
    // (escaped on disk, raw in the log, raw back out of the reader)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_delta_esc_").toFile
    graft.sources.LakeWriter.writeDelta(
      Seq((1L, "x", "a b:c")).toDF("id", "v", "src"), dir2.getPath,
      partitionBy = Seq("src"))
    assert(rows(DeltaReader.read(spark, dir2.getPath)) == Set((1L, "x", "a b:c")))
  }

  test("appendDelta refuses schema-incompatible appends, accepts a matching one") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_sg_").toFile
    graft.sources.LakeWriter.writeDelta(Seq((1L, "a")).toDF("id", "v"), dir.getPath)
    // wrong column type (and name order): the message names the column
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(Seq(("x", 1L)).toDF("id", "v"), dir.getPath)
    }
    assert(e1.getMessage.contains("schema mismatch at 'id'"), e1.getMessage)
    // wrong column count
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(
        Seq((2L, "b", "extra")).toDF("id", "v", "w"), dir.getPath)
    }
    assert(e2.getMessage.contains("3 columns"), e2.getMessage)
    // nullable column appended into a non-nullable table field: the
    // table's id came from a Scala Long (non-nullable); boxed is not
    val e3 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(
        Seq((java.lang.Long.valueOf(2L), "b")).toDF("id", "v"), dir.getPath)
    }
    assert(e3.getMessage.contains("non-nullable"), e3.getMessage)
    // a matching append still lands, and none of the refused writers
    // leaked data files into the live table
    graft.sources.LakeWriter.appendDelta(Seq((2L, "b")).toDF("id", "v"), dir.getPath)
    assert(DeltaReader.read(spark, dir.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("appendDelta refuses malformed id-mode tables and unimplemented writer features") {
    val s = spark
    import s.implicits._
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    // id-mode appends ARE supported (r15, field-id staging) — but a
    // table DECLARING id mode whose schema carries no column-mapping
    // metadata is malformed and must refuse loudly, not write files
    // readers cannot resolve
    val (dir, log) = mkTable()
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm3","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(dataSchema.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}"""))
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(Seq((1L, "a")).toDF("id", "v"), dir.getPath)
    }
    assert(e1.getMessage.contains("malformed schemaString"), e1.getMessage)
    // writer version 7 with a feature this writer cannot enforce
    val (dir2, log2) = mkTable()
    commit(log2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking"]}}""",
      s"""{"metaData":{"id":"wf1","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(dataSchema.json)},"partitionColumns":[],"configuration":{}}}"""))
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(Seq((1L, "a")).toDF("id", "v"), dir2.getPath)
    }
    assert(e2.getMessage.contains("rowTracking"), e2.getMessage)
    // ...but version 7 carrying only append-safe features accepts
    val (dir3, log3) = mkTable()
    commit(log3, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly"]}}""",
      s"""{"metaData":{"id":"wf2","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(dataSchema.json)},"partitionColumns":[],"configuration":{}}}"""))
    graft.sources.LakeWriter.appendDelta(Seq((1L, "a")).toDF("id", "v"), dir3.getPath)
    assert(DeltaReader.read(spark, dir3.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet == Set((1L, "a")))
    // column invariants (legal from writer version 2) ENFORCE: a
    // passing batch writes, a violating one refuses with the named
    // invariant and writes nothing
    val invSchema = StructType(Seq(
      StructField("id", LongType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.invariants",
            """{"expression":{"expression":"id > 0"}}""").build()),
      StructField("v", StringType)))
    val (dir4, log4) = mkTable()
    commit(log4, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"inv1","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(invSchema.json)},"partitionColumns":[],"configuration":{}}}"""))
    graft.sources.LakeWriter.appendDelta(Seq((1L, "a")).toDF("id", "v"), dir4.getPath)
    val e3 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(Seq((-1L, "z")).toDF("id", "v"), dir4.getPath)
    }
    assert(e3.getMessage.contains("invariant on 'id'"), e3.getMessage)
    assert(DeltaReader.read(spark, dir4.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("compactDelta folds small files per partition without changing data") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_cpt_").toFile
    graft.sources.LakeWriter.writeDelta(
      Seq((1L, "a", "web")).toDF("id", "v", "src"), dir.getPath,
      partitionBy = Seq("src"))
    graft.sources.LakeWriter.appendDelta(
      Seq((2L, "b", "web")).toDF("id", "v", "src"), dir.getPath)
    graft.sources.LakeWriter.appendDelta(
      Seq((3L, "c", "book")).toDF("id", "v", "src"), dir.getPath)
    def rows(v: Option[Long] = None) = DeltaReader.read(spark, dir.getPath, v)
      .select("id", "v", "src").as[(Long, String, String)].collect().toSet
    assert(rows() == Set((1L, "a", "web"), (2L, "b", "web"), (3L, "c", "book")))
    // web has two files, book one — only web is folded
    graft.sources.LakeWriter.compactDelta(spark, dir.getPath)
    val log = new java.io.File(dir, "_delta_log")
    assert(new java.io.File(log, f"${3L}%020d.json").isFile)
    assert(rows() == Set((1L, "a", "web"), (2L, "b", "web"), (3L, "c", "book")),
      "compaction must not change the table's rows")
    // the commit is pure layout movement: every FILE action
    // dataChange=false, led by the OPTIMIZE provenance line
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(log, f"${3L}%020d.json").toPath)
    assert(lines.size() == 4, s"commitInfo + 1 add + 2 removes expected, got $lines")
    assert(lines.get(0).contains("\"operation\":\"OPTIMIZE\""), lines.get(0))
    lines.forEach(l => assert(l.contains("commitInfo") ||
      l.contains("\"dataChange\":false"), l))
    // live file set: web folded to the single compacted file, and a
    // read of web scans only that file
    val webLive = DeltaReader.snapshot(spark, dir.getPath, None).active
      .filter(_.partitionValues("src") == "web").map(_.path)
    assert(webLive.length == 1 && webLive.head.contains("part-compact-"),
      webLive.mkString(", "))
    val webRead = DeltaReader.read(spark, dir.getPath).where("src = 'web'")
    assert(webRead.collect().length == 2)
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val webScans = Plans.collect(webRead.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(webScans.map(_.metrics("numFiles").value).sum == 1, webScans.toString)
    // time travel BELOW the compaction still replays the removed files
    assert(rows(Some(2L)) == Set((1L, "a", "web"), (2L, "b", "web"), (3L, "c", "book")))
    // ...and the physical files are still on disk (tombstones never delete)
    assert(new java.io.File(dir, "src=web").listFiles()
      .count(_.getName.endsWith(".parquet")) == 3)
    // idempotent: nothing left above minFiles, so no new commit
    graft.sources.LakeWriter.compactDelta(spark, dir.getPath)
    assert(!new java.io.File(log, f"${4L}%020d.json").isFile,
      "an already-compact table must not grow an empty commit")
    // a checkpoint after compaction carries the folded layout
    graft.sources.LakeWriter.checkpointDelta(spark, dir.getPath, 3L)
    (0 to 3).foreach(i => new java.io.File(log, f"$i%020d.json").delete())
    assert(rows() == Set((1L, "a", "web"), (2L, "b", "web"), (3L, "c", "book")))
  }

  test("compactDelta bounds output file size by targetFileBytes") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_cptsz_").toFile
    graft.sources.LakeWriter.writeDelta(
      (0L until 500L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4), dir.getPath)
    graft.sources.LakeWriter.appendDelta(
      (500L until 1000L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4), dir.getPath)
    val before = DeltaReader.snapshot(spark, dir.getPath, None)
    assert(before.active.size == 8)
    // a tiny target forces the fold to SPLIT instead of one giant file
    graft.sources.LakeWriter.compactDelta(spark, dir.getPath, minFiles = 2,
      targetFileBytes = before.active.map(_.size).sum / 3)
    val after = DeltaReader.snapshot(spark, dir.getPath, None)
    assert(after.active.size >= 3 && after.active.size < 8,
      s"expected a bounded multi-file fold, got ${after.active.size}")
    assert(after.active.forall(_.path.contains("part-compact-")))
    assert(DeltaReader.read(spark, dir.getPath).select("id").as[Long].collect().toSet ==
      (0L until 1000L).toSet)
  }

  /** A version-0 table of two one-row files (ids 1 and 2) under
    * `protocol` and the given configuration JSON object.
    */
  private def mkTwoFileTable(protocol: String,
                             configuration: String = "{}"): (java.io.File, java.io.File) = {
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val (dir, log) = mkTable()
    val f1 = part(dir, "part-0001.parquet", Seq((1L, "a")))
    val f2 = part(dir, "part-0002.parquet", Seq((2L, "b")))
    commit(log, 0, Seq(
      protocol,
      s"""{"metaData":{"id":"cg","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(dataSchema.json)},"partitionColumns":[],"configuration":$configuration}}""",
      s"""{"add":{"path":"$f1","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    (dir, log)
  }

  test("compactDelta applies the same writer gate as appendDelta") {
    val s = spark
    import s.implicits._
    // v7 with a feature whose contract a rewrite cannot honor
    // (rowTracking requires baseRowId on every add action)
    val (dir1, log1) = mkTwoFileTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking"]}}""")
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.compactDelta(spark, dir1.getPath)
    }
    assert(e1.getMessage.contains("rowTracking"), e1.getMessage)
    assert(!new java.io.File(log1, f"${1L}%020d.json").isFile,
      "a refused compaction must not commit")
    // legacy writer versions through 5 ARE compactable: a
    // dataChange=false rewrite re-states existing rows, so CHECK
    // constraints/generated columns/CDF obligations hold by
    // construction (CDF readers skip the commit entirely)
    val (dir2, log2) = mkTwoFileTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""")
    graft.sources.LakeWriter.compactDelta(spark, dir2.getPath)
    assert(new java.io.File(log2, f"${1L}%020d.json").isFile)
    // v6 (identityColumns) stays refused — high-water-mark bookkeeping
    // this writer does not implement
    val (dir2b, log2b) = mkTwoFileTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""")
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.compactDelta(spark, dir2b.getPath)
    }
    assert(e2.getMessage.contains("writer version 6"), e2.getMessage)
    assert(!new java.io.File(log2b, f"${1L}%020d.json").isFile)
    // appendOnly IS compactable: no new rows, removes carry
    // dataChange=false — the protocol's OPTIMIZE carve-out
    val (dir3, log3) = mkTwoFileTable(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly"]}}""")
    graft.sources.LakeWriter.compactDelta(spark, dir3.getPath)
    assert(new java.io.File(log3, f"${1L}%020d.json").isFile)
    assert(DeltaReader.read(spark, dir3.getPath)
      .select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("every row-level writer applies the one writer gate; row-removing ops refuse appendOnly") {
    val s = spark
    import s.implicits._
    import graft.sources.{MergeClause, MergeInsertAll, MergeUpdateAll}
    def batch = Seq((3L, "c")).toDF("id", "v")
    // entry point -> the op name its refusal must carry, and whether it
    // removes rows (those also refuse delta.appendOnly=true tables)
    val ops: Seq[(String, Boolean, String => Unit)] = Seq(
      ("appendDelta", false, d => LakeWriter.appendDelta(batch, d)),
      ("appendDeltaEvolve", false, d => LakeWriter.appendDeltaEvolve(batch, d)),
      ("overwriteDelta", true, d => LakeWriter.overwriteDelta(batch, d)),
      ("overwriteWhere", true, d => LakeWriter.overwriteWhere(batch, d, "id = 3")),
      ("deleteWhere", true, d => LakeWriter.deleteWhere(spark, d, "id = 1")),
      ("deleteWhereDv", true, d => LakeWriter.deleteWhereDv(spark, d, "id = 1")),
      ("updateWhere", true, d => LakeWriter.updateWhere(spark, d, "id = 1", Map("v" -> "'z'"))),
      ("updateWhereDv", true, d => LakeWriter.updateWhereDv(spark, d, "id = 1", Map("v" -> "'z'"))),
      ("applyCdcDv", true, d => LakeWriter.applyCdcDv(spark, d,
        Seq((1L, "z", "update_postimage")).toDF("id", "v", "_change_type"), Seq("id"))),
      ("mergeIntoClauses", true, d => LakeWriter.mergeIntoClauses(spark, d,
        Seq((1L, "z")).toDF("id", "v"), Seq("id"),
        matched = Seq(MergeClause(None, MergeUpdateAll)),
        notMatched = Seq(MergeClause(None, MergeInsertAll)))),
      ("restoreDelta", true, d => LakeWriter.restoreDelta(spark, d, 0L)))
    def refused(name: String, run: String => Unit, protocol: String,
                configuration: String, expect: String): Unit = {
      val (dir, log) = mkTwoFileTable(protocol, configuration)
      val e = intercept[IllegalArgumentException](run(dir.getPath))
      assert(e.getMessage.contains(s"$name:") && e.getMessage.contains(expect),
        s"$name: ${e.getMessage}")
      assert(log.listFiles().map(_.getName).toSet == Set(f"${0L}%020d.json"),
        s"$name: a refused write must leave no new log file")
    }
    ops.foreach { case (name, removesRows, run) =>
      refused(name, run, """{"protocol":{"minReaderVersion":1,"minWriterVersion":6}}""",
        "{}", "writer version 6")
      refused(name, run,
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["appendOnly","someFutureWriterFeature"]}}""",
        "{}", "writer version 7")
      if (removesRows)
        refused(name, run, """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          """{"delta.appendOnly":"true"}""", "delta.appendOnly=true")
    }
  }

  test("column-mapping remap survives a physical/logical name swap") {
    val s = spark
    import s.implicits._
    val (dir, log) = mkTable()
    // legacy-upgraded table after a column SWAP: logical "id" kept
    // physical name "v", logical "v" kept physical name "id" — each
    // field's physical name equals the OTHER field's logical name, so a
    // sequential rename fold would create a duplicate column mid-fold
    val stage = new java.io.File(dir, "_stage_swap")
    Seq((1L, "a"), (2L, "b")).toDF("v", "id").coalesce(1).write.parquet(stage.getPath)
    val pf = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(pf.toPath, new java.io.File(dir, "part-swap.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    def fld(name: String, tpe: org.apache.spark.sql.types.DataType, phys: String, id: Int) =
      StructField(name, tpe, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", LongType, "v", 1), fld("v", StringType, "id", 2)))
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm-swap","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(logical.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"part-swap.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df = DeltaReader.read(spark, dir.getPath)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(df.select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("appendDelta tolerates nested metadata and stricter nullability, still refuses real mismatches") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.ArrayType
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    // the TABLE's nested fields carry metadata (a comment) and are
    // maximally nullable — the shape delta-spark leaves after ALTER
    // TABLE ... COMMENT
    val tableSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("info", StructType(Seq(
        StructField("x", LongType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("comment", "an annotated field").build()))))))
    val (dir, log) = mkTable()
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"nm1","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(tableSchema.json)},"partitionColumns":[],"configuration":{}}}"""))
    // the APPEND's in-memory schema has no metadata and is stricter
    // (non-null array elements, non-null struct member) — legitimate
    // data that plain DataType equality would spuriously refuse
    val appendSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("info", StructType(Seq(
        StructField("x", LongType, nullable = false))))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, Seq("a", "b"), Row(7L))), appendSchema)
    graft.sources.LakeWriter.appendDelta(df, dir.getPath)
    val back = DeltaReader.read(spark, dir.getPath).collect()
    assert(back.length == 1 && back.head.getLong(0) == 1L &&
      back.head.getSeq[String](1) == Seq("a", "b") &&
      back.head.getStruct(2).getLong(0) == 7L, back.mkString(", "))
    // a REAL nested type mismatch is still refused, naming the column
    val badSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("info", StructType(Seq(
        StructField("x", StringType, nullable = false))))))
    val bad = spark.createDataFrame(
      java.util.Arrays.asList(Row(2L, Seq("c"), Row("oops"))), badSchema)
    val e = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(bad, dir.getPath)
    }
    assert(e.getMessage.contains("schema mismatch at 'info'"), e.getMessage)
    // nested nullability LOOSER than the table's is refused too: a
    // nullable struct member appended into a non-nullable table field
    val strictTable = StructType(Seq(
      StructField("id", LongType),
      StructField("info", StructType(Seq(
        StructField("x", LongType, nullable = false))))))
    val (dir2, log2) = mkTable()
    commit(log2, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"nm2","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(strictTable.json)},"partitionColumns":[],"configuration":{}}}"""))
    val loose = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, Row(7L))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("info", StructType(Seq(
          StructField("x", LongType, nullable = true)))))))
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.LakeWriter.appendDelta(loose, dir2.getPath)
    }
    assert(e2.getMessage.contains("schema mismatch at 'info'"), e2.getMessage)
  }

  test("checkpointDelta restates the table's protocol verbatim, not (1,2)") {
    val om = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    def fld(name: String, tpe: org.apache.spark.sql.types.DataType,
            phys: String, id: Int) =
      StructField(name, tpe, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("delta.columnMapping.physicalName", phys)
          .putLong("delta.columnMapping.id", id).build())
    val logical = StructType(Seq(
      fld("id", LongType, "col-aaaa", 1), fld("v", StringType, "col-bbbb", 2)))
    // a name-mode column-mapping table on the legacy (2,5) versions
    val (dir, log) = mkTable()
    val s0 = spark
    import s0.implicits._
    val stage = new java.io.File(dir, "_stage_cm")
    Seq((1L, "a")).toDF("col-aaaa", "col-bbbb").coalesce(1).write.parquet(stage.getPath)
    val pf = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(pf.toPath, new java.io.File(dir, "part-cp.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage)
    commit(log, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cp-cm","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(logical.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"part-cp.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    graft.sources.LakeWriter.checkpointDelta(spark, dir.getPath, 0L)
    val cpFile = new java.io.File(log, f"${0L}%020d.checkpoint.parquet")
    val pr = spark.read.parquet(cpFile.getPath)
      .where("protocol IS NOT NULL").select("protocol.*").head()
    assert(pr.getAs[Int]("minReaderVersion") == 2, pr)
    assert(pr.getAs[Int]("minWriterVersion") == 5, pr)
    assert(pr.isNullAt(pr.fieldIndex("readerFeatures")), pr)
    assert(pr.isNullAt(pr.fieldIndex("writerFeatures")), pr)
    // the checkpoint alone (commit retention-cleaned) must still carry
    // the mapping: read back through graft's own reader
    new java.io.File(log, f"${0L}%020d.json").delete()
    val df = DeltaReader.read(spark, dir.getPath)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(df.select("id", "v").as[(Long, String)].collect().toSet == Set((1L, "a")))

    // feature-form versions (3,7): the arrays must survive verbatim
    val (dir2, log2) = mkTable()
    val stage2 = new java.io.File(dir2, "_stage_cm2")
    Seq((2L, "b")).toDF("col-aaaa", "col-bbbb").coalesce(1).write.parquet(stage2.getPath)
    val pf2 = stage2.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(pf2.toPath, new java.io.File(dir2, "part-cp2.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(stage2)
    commit(log2, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      s"""{"metaData":{"id":"cp-cm2","format":{"provider":"parquet","options":{}},"schemaString":${
        om.writeValueAsString(logical.json)},"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"part-cp2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    graft.sources.LakeWriter.checkpointDelta(spark, dir2.getPath, 0L)
    val pr2 = spark.read
      .parquet(new java.io.File(log2, f"${0L}%020d.checkpoint.parquet").getPath)
      .where("protocol IS NOT NULL").select("protocol.*").head()
    assert(pr2.getAs[Int]("minReaderVersion") == 3, pr2)
    assert(pr2.getAs[Int]("minWriterVersion") == 7, pr2)
    assert(pr2.getSeq[String](pr2.fieldIndex("readerFeatures")) == Seq("columnMapping"), pr2)
    assert(pr2.getSeq[String](pr2.fieldIndex("writerFeatures")) == Seq("columnMapping"), pr2)
    new java.io.File(log2, f"${0L}%020d.json").delete()
    val df2 = DeltaReader.read(spark, dir2.getPath)
    assert(df2.select("id", "v").as[(Long, String)].collect().toSet == Set((2L, "b")))
  }
}
