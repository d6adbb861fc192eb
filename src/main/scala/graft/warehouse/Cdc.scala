package graft.warehouse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ColumnOps

/** Change-data-capture: latest-per-key snapshots, insert/update detection by
  * content hash, and a Delta-style full-outer merge classification.
  *
  * Re-expresses the reference's CDC (reference:
  * src/com/vitthalmirji/datawarehousing/change_data_capture.py:18-77)
  * Spark-first: the "left join + IS NULL" insert detection becomes a real
  * `left_anti` join, and update detection is an equi-join with a hash
  * residual — both shuffle on the PK, so AQE can pick broadcast/skew
  * handling per run. Hashes are md5 over canonicalized column strings
  * (engine- and partitioning-stable).
  */
object Cdc {

  /** Audit columns (reference: change_data_capture.py:33-42). */
  def addAuditColumns(df: DataFrame): DataFrame = df
    .withColumn("spark_file_name", ColumnOps.sourceFileName)
    .withColumn("spark_timestamp", ColumnOps.auditTimestamp)

  /** Content hash over the given columns (order-sensitive, canonical). */
  def addContentHash(df: DataFrame, cols: Seq[String],
                     hashCol: String = "hashcode"): DataFrame =
    df.withColumn(hashCol, ColumnOps.contentHash(cols.map(col): _*))

  /** row_number over the PK window, newest first. Empty `pks` degenerates to
    * a single global window — a one-partition bottleneck at scale (the
    * reference silently does this, change_data_capture.py:52); we require
    * keys instead. */
  def withRowNumber(df: DataFrame, pks: Seq[String], orderDesc: Seq[String],
                    rnCol: String = "row_num"): DataFrame = {
    require(pks.nonEmpty,
      "CDC snapshot without partition keys would funnel all data through one partition")
    val w = Window.partitionBy(pks.map(col): _*).orderBy(orderDesc.map(c => col(c).desc): _*)
    df.withColumn(rnCol, row_number().over(w))
  }

  /** Latest record per key (reference: change_data_capture.py:18-30). */
  def snapshot(df: DataFrame, pks: Seq[String], orderDesc: Seq[String]): DataFrame =
    withRowNumber(df, pks, orderDesc).filter(col("row_num") === 1).drop("row_num")

  /** Inserts ∪ updates of `newDf` against `oldDf` (both already hash-stamped
    * via [[addContentHash]]; `oldDf` deduped via [[snapshot]] if needed).
    * Reference semantics (change_data_capture.py:45-77): inserts = PKs absent
    * from old (left_anti); updates = PKs present with differing hashcode.
    */
  def identifyNewRecords(oldDf: DataFrame, newDf: DataFrame,
                         pks: Seq[String]): DataFrame =
    classifyChanges(oldDf, newDf, pks).drop("change_type")

  /** Same as [[identifyNewRecords]] but tagged with `change_type` I/U. */
  def classifyChanges(oldDf: DataFrame, newDf: DataFrame,
                      pks: Seq[String]): DataFrame = {
    val oldHashes = oldDf.select((pks.map(col) :+ col("hashcode").as("old_hashcode")): _*)
    val inserts = newDf.join(oldHashes, pks, "left_anti")
      .withColumn("change_type", lit("I"))
    val updates = newDf.join(oldHashes, pks, "inner")
      .filter(col("hashcode") =!= col("old_hashcode"))
      .drop("old_hashcode")
      .withColumn("change_type", lit("U"))
    // The trailing dropDuplicates is reference parity (change_data_capture
    // .py's distinct over the union) and only ever removes full-row
    // duplicates ORIGINATING IN THE INPUTS: the branches are disjoint by
    // construction (left_anti = absent PKs, inner+hash-differs = present
    // PKs), so it collapses newDf's own full-row dups and the join fan-out
    // of a non-snapshotted oldDf with duplicate PK rows. At 100 TB it is
    // the widest possible exchange — callers that guarantee snapshotted
    // inputs (one row per PK, e.g. via snapshot()) can skip it by
    // deduplicating newDf up front instead.
    inserts.unionByName(updates).dropDuplicates()
  }

  /** SCD Type-2 history merge — the warehouse pattern the reference's CDC
    * stops short of (it only emits the delta; history tracking is left to
    * the target). `history` carries `effective_from`/`effective_to`/
    * `is_current` + `hashcode`; `updates` carries the same business columns
    * + `hashcode` (via [[addContentHash]]). For batch `asOf`:
    *
    *  - keys whose current hash differs from the update: current row closes
    *    (`effective_to = asOf`, `is_current = false`), a new version opens;
    *  - unseen keys: a first version opens;
    *  - unchanged keys and already-closed history pass through untouched.
    *
    * Two hash-equi-joins on the PK, no window — scales like the CDC joins
    * and AQE picks broadcast per batch size. Deletes are intentionally NOT
    * closed here (absence from a batch ≠ deletion in incremental feeds);
    * close them explicitly from a [[mergeClassify]] 'D' set if the feed is
    * a full snapshot.
    *
    * PRECONDITION — one row per PK in `updates` (reduce a multi-version
    * batch with [[snapshot]] first, same as [[classifyChanges]]'s `oldDf`
    * contract): with k same-key rows of distinct hash, the open branch
    * emits k simultaneous `is_current` versions and the close join
    * multiplies the current row k times — silent history corruption, not
    * an error this method can detect without paying an extra distinct. */
  def scd2Merge(history: DataFrame, updates: DataFrame, pks: Seq[String],
                asOf: Long): DataFrame = {
    val cur = history.filter(col("is_current"))
    val closed = history.filter(!col("is_current"))
    val curHashes = cur.select((pks.map(col) :+ col("hashcode").as("cur_hashcode")): _*)
    // rows to open: brand-new keys ∪ changed keys
    val opened = updates.join(curHashes, pks, "left")
      .filter(col("cur_hashcode").isNull || col("cur_hashcode") =!= col("hashcode"))
      .drop("cur_hashcode")
      .withColumn("effective_from", lit(asOf))
      .withColumn("effective_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    // current rows to close: key present in updates with a different hash
    val updHashes = updates.select((pks.map(col) :+ col("hashcode").as("new_hashcode")): _*)
    val withUpd = cur.join(updHashes, pks, "left")
    val closing = withUpd.filter(col("new_hashcode").isNotNull &&
        col("new_hashcode") =!= col("hashcode"))
      .drop("new_hashcode")
      .withColumn("effective_to", lit(asOf))
      .withColumn("is_current", lit(false))
    val stillCurrent = withUpd.filter(col("new_hashcode").isNull ||
        col("new_hashcode") === col("hashcode"))
      .drop("new_hashcode")
    closed.unionByName(stillCurrent).unionByName(closing).unionByName(opened)
  }

  /** Delta-style merge classification over a full-outer join: every key
    * becomes exactly one of I (new only), U (both, hash differs),
    * D (old only), N (unchanged). One shuffle on the PK; downstream writers
    * can split by `change_type` without rescanning. 'D' rows carry their
    * PK from the OLD side (their new side is all null after the
    * full-outer join — dropping the old-side keys uncoalesced used to
    * emit every delete with a null, indistinguishable key, which made the
    * scd2Merge doc's "close deletes from the D set" workflow impossible);
    * non-key columns of a 'D' row remain null, as there is no new row. */
  def mergeClassify(oldDf: DataFrame, newDf: DataFrame,
                    pks: Seq[String]): DataFrame = {
    val o = oldDf.select((pks.map(c => col(c).as(s"o_$c")) :+ col("hashcode").as("old_hashcode")): _*)
    val cond = pks.map(c => col(c) === col(s"o_$c")).reduce(_ && _)
    val classified = newDf.join(o, cond, "full_outer")
      .withColumn("change_type",
        // Presence is tested on the HASHCODE columns, which are non-null
        // by construction on every real row — testing the PK head
        // misclassified an old-side row whose leading key value is
        // legitimately NULL as an insert (and vice versa), re-inserting
        // deleted rows downstream.
        when(col("old_hashcode").isNull, "I")
          .when(col("hashcode").isNull, "D")
          .when(col("hashcode") =!= col("old_hashcode"), "U")
          .otherwise("N"))
    pks.foldLeft(classified) { (df, c) =>
        df.withColumn(c, coalesce(col(c), col(s"o_$c")))
      }
      .drop((pks.map(c => s"o_$c") :+ "old_hashcode"): _*)
  }
}
