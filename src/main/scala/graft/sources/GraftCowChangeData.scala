package graft.sources

import graft.model.CqlSchema
import graft.write.{DeletionVectors, Snapshots}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Change-data recording for COPY-ON-WRITE row-level DML (`changeFeedCow
 * 'true'` table option — the Delta `delta.enableChangeDataFeed` /
 * `_change_data` design): a CoW UPDATE/MERGE/DELETE rewrites whole file
 * groups, which breaks file-level change provenance — without a record,
 * the change feed must refuse at the rewrite. With the option on, the
 * DML derives its row-level events and stores them as `_graft_cdc/`
 * sidecar parquet (rows tagged `_change_type` ∈ delete|insert),
 * referenced by `cdc` lines in the SAME atomic commit; the feed then
 * delivers exactly those events and rides across the rewrite.
 *
 * Derivation: a full-outer join of the affected groups' OLD rows
 * (scanned files, source-version DVs applied) against their NEW rows
 * (the replacement generation) on the full primary key. Key missing on
 * one side → insert/delete; present on both with different values → the
 * delete+insert pair (an update); identical → carried unchanged, no
 * event. Cost is O(affected-group rows) — ONE join evaluated by ONE
 * action (the sidecar write; the pk-uniqueness guard below rides inside
 * it), paid at DML time by the table that opted into CDC (the same
 * trade Delta documents). Requires pk-unique affected rows (row-level
 * DML addresses rows by key); duplicate keys refuse loudly rather than
 * emit a cross-product of fabricated events.
 *
 * Row-TRACKED tables additionally thread the stable row id
 * (`_graft_row_id`) into the sidecar: delete preimages carry the old
 * row's id (stored column, else binding base + physical position — the
 * same identity [[Snapshots.readChangesWithDeletes]] derives), insert
 * postimages carry the replacement's carried id (null for a genuinely
 * NEW row — its id is allocated only at commit). The feed's
 * `withRowIds` consumer and [[graft.operators.Cdc.pairUpdates]] then
 * pair by identity on BOTH DML engines: a delete+reinsert of a reused
 * key does NOT mispresent as an update (old id ≠ null new id).
 */
private[sources] object GraftCowChangeData {

  /** Compute + persist the DML's change-data rows; returns the sidecar
   *  file paths to reference from the rewrite commit (empty = no row
   *  actually changed — a no-op DML records no events). `replacement`
   *  may carry `_graft_row_id` (row-tracked ReplaceData writes do) —
   *  it is threaded into the sidecar, never treated as a value column. */
  def record(
      spark: SparkSession,
      dir: String,
      cql: CqlSchema,
      source: Snapshots.TableSnapshot,
      scanned: Seq[String],
      replacement: DataFrame): Seq[String] = {
    val RidCol = GraftDataSource.RowIdCol
    val tracked = replacement.columns.contains(RidCol)
    val keys = (cql.partitionKeys ++ cql.clusteringKeys).toIndexedSeq
    val cols = replacement.columns.filterNot(_ == RidCol).toIndexedSeq
    require(keys.forall(cols.contains),
      s"changeFeedCow: rewrite schema ${cols.mkString(",")} lacks key column(s) " +
        s"${keys.filterNot(cols.contains).mkString(",")}")
    val valueCols = cols.filterNot(keys.contains)
    val dataSchema = org.apache.spark.sql.types.StructType(
      replacement.schema.fields.filterNot(_.name == RidCol))

    // old rows: the scanned files with the SOURCE version's DVs applied —
    // a MoR-then-CoW mix must not resurrect already-deleted positions
    val scannedSet = scanned.toSet
    val dvs = source.dvs.filter { case (carrier, _) => scannedSet.contains(carrier) }
    val oldRaw: DataFrame =
      if (scanned.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          if (tracked) org.apache.spark.sql.types.StructType(dataSchema.fields :+
            org.apache.spark.sql.types.StructField(RidCol,
              org.apache.spark.sql.types.LongType))
          else dataSchema)
      else if (!tracked)
        Snapshots.stripEngineColumns(DeletionVectors.applyToRead(
          spark, scanned, dvs,
          raw0 = Some(ExistsDefaults.read(spark, dir, scanned))))
      else {
        // derive the old rows' stable ids the same way the MoR feed does:
        // stored materialized id, else binding base + physical position.
        // `_metadata` is bound to the scan relation and unresolvable
        // through a join — materialize file/position FIRST, then apply
        // the DVs by (file, pos) and attach the bases
        val raw = ExistsDefaults.read(spark, dir, scanned)
        val fsys = new org.apache.hadoop.fs.Path(scanned.head)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val stored =
          if (raw.columns.contains(RidCol)) col(RidCol) else lit(null).cast("long")
        val withPos = raw
          .withColumn("__cdc_file", col("_metadata.file_path"))
          .withColumn("__cdc_pos", col("_metadata.row_index"))
          .withColumn("__cdc_stored", stored)
        val deleted: Seq[(String, Long)] = dvs.toSeq.flatMap { case (carrier, dv) =>
          DeletionVectors.read(fsys, dv).map(p => (carrier, p))
        }
        import spark.implicits._
        val afterDv =
          if (deleted.isEmpty) withPos
          else withPos.join(
            broadcast(deleted.toDF("__cdc_file", "__cdc_pos")),
            Seq("__cdc_file", "__cdc_pos"), "left_anti")
        val bases = source.rowIds.filter { case (p, _) => scannedSet.contains(p) }.toSeq
        val withRid = afterDv
          .join(broadcast(bases.toDF("__cdc_file", "__cdc_base")),
            Seq("__cdc_file"), "left_outer")
          .withColumn("__cdc_rid", coalesce(
            col("__cdc_stored"), col("__cdc_base") + col("__cdc_pos")))
          .drop("__cdc_file", "__cdc_pos", "__cdc_stored", "__cdc_base")
        Snapshots.stripEngineColumns(withRid).withColumnRenamed("__cdc_rid", RidCol)
      }
    // align to the replacement's columns: pre-evolution files lack new
    // columns — their preimages read null there
    val oldRows = dataSchema.fields.foldLeft(oldRaw) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select((cols ++ (if (tracked) Seq(RidCol) else Nil)).map(col): _*)

    def packed(df: DataFrame, tag: String, ridTag: String): DataFrame = {
      val rid: Seq[Column] =
        if (!tracked) Nil
        else Seq(
          (if (df.columns.contains(RidCol)) col(RidCol)
           else lit(null).cast("long")).as(ridTag))
      df.select(keys.map(col) ++ rid :+
        (if (valueCols.isEmpty) lit(0) else struct(valueCols.map(col): _*)).as(tag): _*)
    }
    val joined = packed(oldRows, "__cdc_o", "__cdc_orid")
      .join(packed(replacement, "__cdc_n", "__cdc_nrid"), keys, "full_outer")

    // pk-uniqueness guard: duplicate keys in the affected rows would make
    // the key join a cross-product of fabricated events. Ridden INSIDE the
    // derivation pass (a count-over-key window on the join's own
    // exchange + raise_error woven into the preimage column) so the join
    // is evaluated by exactly ONE action — the sidecar write below
    val oType = joined.schema("__cdc_o").dataType
    val dupMsg = s"changeFeedCow on $dir: affected rows are not unique per " +
      s"primary key (${keys.mkString(",")}) - row-level change derivation " +
      "addresses rows by key; deduplicate first or disable changeFeedCow"
    val checked = joined
      .withColumn("__cdc_dup",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .withColumn("__cdc_o",
        when(col("__cdc_dup") > 1, raise_error(lit(dupMsg)).cast(oType))
          .otherwise(col("__cdc_o")))
      .drop("__cdc_dup")

    val changed = checked.filter(!(col("__cdc_o") <=> col("__cdc_n")))
    def unpack(side: String, ridSide: String, tag: String): DataFrame =
      changed.filter(col(side).isNotNull).select(
        keys.map(col) ++
          valueCols.map(c => col(side).getField(c).as(c)) ++
          (if (tracked) Seq(col(ridSide).as(RidCol)) else Nil) :+
          lit(tag).as(Snapshots.ChangeTypeCol): _*)
    val cdc = unpack("__cdc_o", "__cdc_orid", "delete")
      .unionByName(unpack("__cdc_n", "__cdc_nrid", "insert"))

    val stage = s"$dir/${Snapshots.CdcDir}/cdc-${java.util.UUID.randomUUID().toString.take(12)}"
    val p = new org.apache.hadoop.fs.Path(stage)
    val fsys = p.getFileSystem(spark.sessionState.newHadoopConf())
    try cdc.write.parquet(stage)
    catch {
      case e: Throwable =>
        // the write IS the derivation action — the dup-key guard (and any
        // other failure) aborts mid-write, so the partial stage dir must
        // not accumulate (vacuum only reclaims log-referenced files).
        // Surface the guard's refusal under its original contract.
        fsys.delete(p, true)
        def chain(t: Throwable): List[Throwable] =
          if (t == null) Nil else t :: chain(t.getCause)
        chain(e).collectFirst {
          case t if Option(t.getMessage)
              .exists(_.contains("not unique per primary key")) =>
            throw new UnsupportedOperationException(t.getMessage, e)
        }
        throw e
    }
    def list(): Seq[String] = fsys.listStatus(fsys.makeQualified(p))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    val files = list()
    if (files.nonEmpty) files
    else {
      // a no-op DML (every row carried unchanged) must STILL reference a
      // sidecar: the `cdc` lines are what let the feed ride across the
      // rewrite — an empty event set is delivered as zero rows
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdc.schema)
        .repartition(1).write.mode("overwrite").parquet(stage)
      list()
    }
  }
}
