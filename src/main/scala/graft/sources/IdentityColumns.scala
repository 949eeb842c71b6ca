package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructType}

/** IDENTITY columns — the protocol's `identityColumns` writer feature
  * (legacy writer version 6): a `bigint` column whose values the
  * WRITER generates from a declared `start`/`step`, tracking the
  * furthest value handed out in the field's
  * `delta.identity.highWaterMark` metadata so every future write
  * continues past it. `GENERATED ALWAYS AS IDENTITY` refuses explicit
  * values; `GENERATED BY DEFAULT` accepts them (and the watermark
  * still advances past whatever they wrote).
  *
  * Generation is fully DISTRIBUTED and job-free:
  * `base + step * monotonically_increasing_id()` — each partition owns
  * a disjoint id block, so values are unique without any coordination,
  * at the protocol-sanctioned price that they are NOT consecutive
  * (the spec only promises uniqueness and step direction, not
  * density). The advanced watermark is derived from the staged
  * parquet FOOTER stats the commit already collects for data
  * skipping ([[DeltaStats]]) — advancing it costs zero extra Spark
  * jobs at any table size.
  *
  * Concurrency: a write that advances the watermark restates
  * `metaData` in its commit, which (deliberately) disqualifies it
  * from the zero-re-execution append rebase — two writers generating
  * from the same base would mint the SAME values, so the loser MUST
  * re-run from a fresh snapshot (`retryOnConflict` does exactly
  * that). This is the same metadata-conflict discipline delta-spark
  * applies to identity writes.
  *
  * Reference: delta-io PROTOCOL.md "Identity Columns"; Spark encodes
  * CREATE-time identity specs as `identity.start`/`identity.step`/
  * `identity.allowExplicitInsert` field metadata
  * (CatalogV2Util.v2ColumnsToStructType), translated here to the
  * protocol's `delta.identity.*` keys.
  */
private[graft] object IdentityColumns {
  val Feature = "identityColumns"
  val StartKey = "delta.identity.start"
  val StepKey = "delta.identity.step"
  val WatermarkKey = "delta.identity.highWaterMark"
  val ExplicitKey = "delta.identity.allowExplicitInsert"
  // Spark's CREATE-time keys (CatalogV2Util)
  private val SparkStartKey = "identity.start"
  private val SparkStepKey = "identity.step"
  private val SparkExplicitKey = "identity.allowExplicitInsert"

  final case class Spec(name: String, start: Long, step: Long,
                        watermark: Option[Long], allowExplicit: Boolean) {
    /** First value the NEXT generated row takes. */
    def nextBase: Long = watermark.map(w => Math.addExact(w, step)).getOrElse(start)
  }

  def specs(table: StructType): Seq[Spec] =
    table.fields.toSeq.filter(_.metadata.contains(StartKey)).map { f =>
      Spec(f.name,
        f.metadata.getLong(StartKey),
        f.metadata.getLong(StepKey),
        if (f.metadata.contains(WatermarkKey)) Some(f.metadata.getLong(WatermarkKey))
        else None,
        f.metadata.contains(ExplicitKey) && f.metadata.getBoolean(ExplicitKey))
    }

  def hasIdentity(table: StructType): Boolean =
    table.fields.exists(_.metadata.contains(StartKey))

  /** CREATE-time translation of Spark's `identity.*` field metadata to
    * the protocol's `delta.identity.*` keys; identity on any other
    * schema shape passes through untouched.
    */
  def translateCreate(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(SparkStartKey)) f
      else {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(StartKey, f.metadata.getLong(SparkStartKey))
          .putLong(StepKey, f.metadata.getLong(SparkStepKey))
          .putBoolean(ExplicitKey,
            f.metadata.contains(SparkExplicitKey) &&
              f.metadata.getBoolean(SparkExplicitKey))
        mb.remove(SparkStartKey); mb.remove(SparkStepKey); mb.remove(SparkExplicitKey)
        f.copy(metadata = mb.build())
      }
    })

  /** Declared-shape gates, applied wherever an identity table is
    * created or written: bigint only (the protocol's type), non-zero
    * step, never a partition column (partition values live in
    * `partitionValues`, outside the footer stats the watermark
    * advance reads — and a generated partition key would shatter the
    * layout into one directory per row anyway).
    */
  def validate(table: StructType, partCols: Seq[String], op: String): Unit =
    specs(table).foreach { s =>
      val f = table(s.name)
      require(f.dataType == LongType,
        s"$op: identity column '${s.name}' must be BIGINT, got ${f.dataType.simpleString}")
      require(s.step != 0L, s"$op: identity column '${s.name}' declares step 0")
      require(!partCols.contains(s.name),
        s"$op: identity column '${s.name}' cannot be a partition column")
    }

  /** The generation expression for one spec — unique across
    * partitions by monotonically_increasing_id's disjoint per-partition
    * blocks, codegen'd end to end.
    */
  def genExpr(spec: Spec): Column =
    lit(spec.nextBase) + lit(spec.step) * monotonically_increasing_id()

  /** Append-shaped completion: every identity column the batch OMITS
    * is generated; one it PROVIDES requires `GENERATED BY DEFAULT`
    * (explicit insert), else refuses. Returns the batch in table
    * column order.
    */
  def complete(df: DataFrame, table: StructType, op: String): DataFrame = {
    val ss = specs(table)
    if (ss.isEmpty) return df
    validate(table, Nil, op)
    val present = df.columns.toSet
    val completed = ss.foldLeft(df) { (d, s) =>
      if (present.contains(s.name)) {
        require(s.allowExplicit,
          s"$op: column '${s.name}' is GENERATED ALWAYS AS IDENTITY — explicit " +
            "values refuse (declare it GENERATED BY DEFAULT to allow them)")
        d
      } else d.withColumn(s.name, genExpr(s))
    }
    if (completed eq df) df
    else if (table.fieldNames.forall(completed.columns.contains))
      completed.select(table.fieldNames.map(col).toIndexedSeq: _*)
    else completed
  }

  /** Refuse SET/UPDATE targeting an identity column — identity values
    * identify rows; neither flavor is updatable (delta-spark's rule).
    */
  def refuseUpdates(table: StructType, targets: Iterable[String], op: String): Unit = {
    val idCols = specs(table).map(_.name).toSet
    val hit = targets.filter(idCols)
    require(hit.isEmpty,
      s"$op: ${hit.mkString(", ")} ${if (hit.size == 1) "is an identity column"
      else "are identity columns"} — identity values cannot be updated")
  }

  /** What the commit needs to advance watermarks: per column its
    * logical name, the name its values carry in the staged files'
    * footer stats (physical under column mapping), its step and the
    * current watermark (absent until the first write).
    */
  final case class Advance(cols: Seq[(String, String, Long, Option[Long])])

  def advanceOf(table: StructType, physByLogical: Map[String, String]): Option[Advance] = {
    val ss = specs(table)
    if (ss.isEmpty) None
    else Some(Advance(ss.map(s =>
      (s.name, physByLogical.getOrElse(s.name, s.name), s.step, s.watermark))))
  }

  /** New watermarks from the staged files' stats JSONs: the furthest
    * observed value in step direction, only for columns that actually
    * moved past their current mark. A file whose stats cannot witness
    * the column (and that isn't all-null for it) refuses the commit —
    * a silently un-advanced watermark would mint duplicate ids later.
    */
  def newWatermarks(advance: Advance, statsJsons: Seq[Option[String]],
                    op: String): Map[String, Long] = {
    if (statsJsons.isEmpty) return Map.empty
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = statsJsons.map(_.map(om.readTree))
    advance.cols.flatMap { case (logical, phys, step, cur) =>
      var observed: Option[Long] = None
      parsed.foreach {
        case None => throw new IllegalArgumentException(
          s"$op: a staged file produced no footer stats — cannot advance the " +
            s"identity watermark of '$logical'; refusing the commit")
        case Some(n) =>
          val numRecords = n.get("numRecords").asLong()
          if (numRecords > 0L) {
            val boundsNode = if (step > 0) n.get("maxValues") else n.get("minValues")
            val v = Option(boundsNode).flatMap(b => Option(b.get(phys)))
            v match {
              case Some(x) =>
                val value = x.asLong()
                observed = Some(observed.fold(value)(o =>
                  if (step > 0) math.max(o, value) else math.min(o, value)))
              case None =>
                val nulls = Option(n.get("nullCount")).flatMap(c => Option(c.get(phys)))
                  .map(_.asLong())
                require(nulls.contains(numRecords),
                  s"$op: staged file stats carry no min/max for identity column " +
                    s"'$logical' (stats column '$phys') and it is not all-null — " +
                    "cannot advance the watermark; refusing the commit")
            }
          }
      }
      observed.filter(o => cur.forall(w => if (step > 0) o > w else o < w))
        .map(logical -> _)
    }.toMap
  }

  /** Patch new watermarks into a metaData action line (the JSON the
    * commit is about to write): parse its schemaString, set each
    * field's `delta.identity.highWaterMark`, re-render.
    */
  def patchMetaLine(metaLine: String, newWm: Map[String, Long]): String = {
    if (newWm.isEmpty) return metaLine
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(metaLine).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val meta = root.get("metaData").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val schema = org.apache.spark.sql.types.DataType.fromJson(
      meta.get("schemaString").asText()).asInstanceOf[StructType]
    val patched = StructType(schema.fields.map { f =>
      newWm.get(f.name) match {
        case Some(w) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong(WatermarkKey, w).build())
        case None => f
      }
    })
    meta.put("schemaString", patched.json)
    om.writeValueAsString(root)
  }

  /** Patch watermarks into a schema directly (the create path renders
    * metaData from the staged DataFrame's schema).
    */
  def patchSchema(schema: StructType, newWm: Map[String, Long]): StructType =
    if (newWm.isEmpty) schema
    else StructType(schema.fields.map { f =>
      newWm.get(f.name) match {
        case Some(w) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong(WatermarkKey, w).build())
        case None => f
      }
    })
}
