package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of standing aggregates — the batch
  * counterpart of the reference's windowed incremental loads (the
  * lookback-window extract + MERGE cycle, `Start.py:19,39` +
  * `Update_QA_Tables.sql`): instead of recomputing a corpus-wide
  * aggregate every cycle, fold the new batch's partial aggregate into
  * the standing result.
  *
  * Scale posture: the whole point at 100 TB. A full daily-rollup
  * recompute rescans the corpus; the incremental merge touches only
  * the delta (map-side partial agg over the batch) plus one join
  * against the standing aggregate, whose cardinality is the number of
  * groups, not the number of rows. With AQE the delta side (one
  * batch's worth of groups) broadcasts. Correctness rests on the
  * measures being ADDITIVE (count/sum — merge = add); non-additive
  * measures need a mergeable sketch instead (HLL++/GK/Misra–Gries,
  * `operators/Sketches.scala`).
  */
object Incremental {

  /** Merge a delta's partial aggregate into a standing aggregate:
    * full outer join on the group keys, measures added with null → 0
    * (a group may exist in either side only). The join is NULL-SAFE
    * (<=>): groupBy puts all null keys in ONE group, so the merge
    * must match them too — a plain equi-join would emit a null-keyed
    * group twice, once per side (the antiJoin null-key bug class).
    * For any additive measure set,
    * `mergeAdditive(agg(a), agg(b)) == agg(a union b)` — the property
    * the driver row proves against the full-recompute oracle and
    * PropertySpec proves for random splits including null keys.
    *
    * Measure contract: measures must be NON-NULL additive values —
    * counts, or sums over non-null columns. The absent-side zero is
    * cast to each measure's own type, but a group whose measure is
    * legitimately NULL (sum over an all-null column) diverges from a
    * full recompute: SQL's sum returns NULL there, the merge returns
    * 0. Pre-aggregate with count/sum-over-non-null (or carry a
    * companion non-null count and post-derive the NULL) if that
    * distinction matters.
    */
  def mergeAdditive(
      state: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      measures: Seq[String]): DataFrame = {
    val s = state.select(
      keys.map(k => col(k).as(s"_sk_$k")) ++
        measures.map(m => col(m).as(s"_s_$m")): _*)
    val d = delta.select(
      keys.map(k => col(k).as(s"_dk_$k")) ++
        measures.map(m => col(m).as(s"_d_$m")): _*)
    val cond = keys.map(k => col(s"_sk_$k") <=> col(s"_dk_$k")).reduce(_ && _)
    val merged = s.join(d, cond, "full_outer")
    val withKeys = keys.foldLeft(merged) { (df, k) =>
      // either side may be absent; on a match both carry the same key
      // (null included — the join matched it null-safely)
      df.withColumn(k, coalesce(col(s"_sk_$k"), col(s"_dk_$k")))
    }
    measures.foldLeft(withKeys) { (df, m) =>
      val zero = lit(0L).cast(merged.schema(s"_s_$m").dataType)
      df.withColumn(m,
        coalesce(col(s"_s_$m"), zero) + coalesce(col(s"_d_$m"), zero))
    }.select((keys ++ measures).map(col): _*)
  }

  /** Incrementally maintain a materialized equi-JOIN M = R ⋈ₖ S over
    * two APPEND-ONLY snapshot tables — the join half of incremental
    * view maintenance (Gupta & Mumick, IEEE DE Bull. '95 delta
    * rules): ΔM = ΔR⋈S₀ ∪ R₀⋈ΔS ∪ ΔR⋈ΔS, so the refresh reads the
    * deltas plus KEY-BOUNDED slices of the old bases — never a full
    * rescan of either table. The base-side bounding is the manifest
    * machinery composed: `SnapshotTable.readMatching` prunes S₀'s
    * files through stats ranges and bloom fingerprints keyed by ΔR's
    * OWN key frame (and symmetrically R₀ by ΔS), which at 100 TB is
    * the difference between "join the delta against the table" and
    * "scan the table to join the delta". Old-version reads are time
    * travel (S₀ = S at `sFrom`), so a refresh is correct even after
    * further commits land mid-refresh.
    *
    * Contract: both histories `from → head` must be APPEND-ONLY
    * (pure-insert CDC — rewriting commits fail loudly; the
    * aggregate path `mergeAdditive` + signed CDC handles those) and
    * `oldJoin` must be R@rFrom ⋈ S@sFrom on `key`. The check is on
    * the MANIFESTS, so it is stricter than the rows: ANY compaction,
    * OPTIMIZE, copy-on-write or merge-on-read delete between the
    * refresh cursors refuses, even one that leaves the logical rows
    * unchanged — re-sync (recompute `oldJoin` at the new heads) after
    * maintenance. Returns the join at (rHead, sHead) with columns
    * (key, R-cols, S-cols). */
  def snapshotJoinIvm(
      oldJoin: DataFrame, rDir: String, sDir: String, key: String,
      rFrom: Long, sFrom: Long,
      rTo: Option[Long] = None, sTo: Option[Long] = None): DataFrame = {
    import graft.sources.SnapshotTable
    val spark = oldJoin.sparkSession
    val rHead = rTo.getOrElse(SnapshotTable.versions(spark, rDir).last)
    val sHead = sTo.getOrElse(SnapshotTable.versions(spark, sDir).last)
    snapshotJoinDelta(spark, rDir, sDir, key, rFrom, sFrom, rHead, sHead)
      .map(oldJoin.unionByName(_)).getOrElse(oldJoin)
  }

  /** JUST the delta terms ΔM (None when both cursors already sit at
    * their targets) — the piece an append-only materialization
    * commits, instead of rewriting M: for append-only bases M itself
    * is append-only, so a refresh is `commitAppend(ΔM)`, O(Δ) write
    * at any |M|. Same manifest-level append-only contract as
    * `snapshotJoinIvm`: a compaction, OPTIMIZE or delete between the
    * cursors refuses and forces a re-sync. */
  def snapshotJoinDelta(
      spark: org.apache.spark.sql.SparkSession,
      rDir: String, sDir: String, key: String,
      rFrom: Long, sFrom: Long, rTo: Long, sTo: Long): Option[DataFrame] = {
    import graft.sources.SnapshotTable
    def delta(dir: String, from: Long, head: Long): Option[DataFrame] =
      if (from == head) None
      else {
        // append-only is a MANIFEST property (file set grew, delete
        // list unchanged) — answered by changesPath's metadata
        // classification, not by counting non-insert rows with a Spark
        // job per side per refresh (guide §1.2: at micro-batch sizes
        // the job overhead was the cost, and the metadata answer is
        // stricter: a rewriting commit is refused even when its
        // content diff happens to be empty)
        val path = SnapshotTable.changesPath(spark, dir, from, head)
        require(path == "append",
          s"snapshotJoinIvm needs append-only history in $dir " +
            s"($from → $head); change path is '$path'")
        Some(SnapshotTable.changesBetween(spark, dir, from, head)
          .drop("_change"))
      }
    val dR = delta(rDir, rFrom, rTo)
    val dS = delta(sDir, sFrom, sTo)
    val terms = Seq(
      dR.map(d => d.join(
        SnapshotTable.readMatching(spark, sDir, d.select(key), Seq(key), Some(sFrom)),
        key)),
      dS.map(d => SnapshotTable
        .readMatching(spark, rDir, d.select(key), Seq(key), Some(rFrom))
        .join(d, key)),
      for (a <- dR; b <- dS) yield a.join(b, key)).flatten
    terms.reduceOption(_ unionByName _)
  }
}
