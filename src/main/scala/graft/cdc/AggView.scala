package graft.cdc

import java.io.FileNotFoundException

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.lake.LakeTable

/** Outcome of one [[AggView.refresh]] round. `mode` is `noop` (view
  * already at the source version), `incremental` (maintained from the
  * change feed), or `full` (bootstrap, or fallback when the feed window's
  * from-snapshot was vacuumed). `keysTouched` = conversations whose
  * aggregate row was rewritten or tombstoned this round. */
final case class AggViewResult(
    applied: Boolean,
    mode: String,
    fromVersion: Long,
    toVersion: Long,
    keysTouched: Long,
    merge: Option[MergeResult])

/** Incremental materialized-aggregate maintenance — the consumer the
  * change feed exists for. Maintains a per-conversation aggregate table
  * (`n_turns` plus caller-named sums over arbitrary Catalyst expressions)
  * as a [[graft.lake.LakeTable]] keyed `(conv_id, 0)`, refreshed from
  * [[LakeTable.changeFeed]] deltas instead of recomputing — the
  * CDC-native form of the reference's recomputed-per-run groupby+sum
  * report (reference: engine/payload/wprdc/g_analytics.py:149-159).
  *
  * Maintenance algebra: count and sum are retractable, so each feed row
  * contributes a SIGNED delta — `insert`/`update_postimage` add, `delete`/
  * `update_preimage` subtract — and one hash aggregate over the feed
  * yields per-conversation deltas. New values are `old + delta`; a
  * conversation whose turn count reaches zero is tombstoned from the
  * view. Null sum contributions count as 0 (exprs are null-coalesced in
  * BOTH the incremental and recompute paths, so the two stay bit-equal
  * for integral exprs — AggViewSpec proves it).
  *
  * `avgs` ride the same retractable algebra as (sum, count-of-non-null)
  * pairs — stored as `<name>_sum`/`<name>_cnt` with the visible `<name>`
  * column derived by exact long/long division at write, so incremental
  * and recomputed views stay bit-equal (no float accumulation order).
  *
  * `mins`/`maxs` are NOT retractable: an insert can only extend an
  * extremum (`least(old, added)`), but deleting (or updating away) the
  * row that HELD the extremum invalidates it. Each round therefore
  * splits the touched keys: keys where no removed value reaches the
  * stored extremum keep the O(delta) path; keys where one does are
  * exactly recomputed from a bucket-pruned, key-semi-joined read of ONLY
  * those conversations at the target version — O(affected
  * conversations), never O(source). Delete-heavy histories degrade
  * gracefully toward recompute of the deleted keys only.
  *
  * Scale shape, per refresh at a 10^10-row source: the feed is
  * manifest-LSN-pruned (O(changed data)); the delta aggregate map-side
  * combines before one shuffle of O(changed conversations) rows; the old
  * values are read via [[LakeTable.readBuckets]] restricted to the
  * buckets the changed keys map to (the bucket set is collected — bounded
  * by the view's nBuckets, a config constant, never by data); the merge
  * is the engine's bucket-pruned MERGE. Nothing in the round scans the
  * source table or the full view.
  *
  * Exactly-once: the consumed source VERSION rides in the view table's
  * app-scoped txn slot (`cfg.txnApp` pattern — Delta's txnAppId), so it
  * commits atomically with the data; a crashed or replayed refresh is a
  * no-op, and a refresh that raced another writer re-reads and retries
  * inside [[MergeApply.merge]]. If the window's from-snapshot has been
  * vacuumed from the source, the refresh falls back to a full recompute
  * (with stale-key tombstoning), so the view self-heals rather than
  * wedging — size the source's `vacuum(keepSnapshots=…)` to the refresh
  * cadence to stay on the incremental path. */
object AggView {

  /** Create-or-refresh the view `dst` over `src`'s current snapshot.
    *
    * @param sums  (columnName, expression-over-source-user-columns) pairs,
    *              each maintained as `sum(coalesce(expr, 0))`. Use
    *              integral expressions for bit-exact maintenance
    *              (floating-point addition is not associative).
    * @param app   txn-slot identity; one view table per `app`.
    * @param nBuckets bucket count when this call creates the view table
    *              (default: the source's — one row per conversation needs
    *              no more).
    * @param cfg   merge tuning for the view writes; `txnApp` must be
    *              empty (the view owns its slot).
    * @param asOf  pin the refresh target to a source snapshot version
    *              instead of the latest — refresh-to-a-consistent-cut,
    *              and the lever replay harnesses use to exercise many
    *              incremental rounds over one committed history. */
  def refresh(src: LakeTable, dst: LakeTable,
      sums: Seq[(String, Column)] = Nil,
      mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil,
      avgs: Seq[(String, Column)] = Nil,
      app: String = "aggview",
      nBuckets: Int = -1,
      cfg: MergeConfig = MergeConfig(),
      asOf: Option[Long] = None): AggViewResult = {
    require(cfg.txnApp.isEmpty,
      "AggView tracks the consumed source version in its own txn slot; " +
        "pass the writer identity via `app`, not cfg.txnApp")
    val defs = Defs(sums, mins, maxs, avgs)
    val allNames = valueCols(defs)
    require(allNames.distinct == allNames,
      s"aggregate column names collide: ${allNames.mkString(", ")}")
    val mcfg = cfg.copy(txnApp = Some(app))
    val srcSnap = asOf.map(src.snapshotAt).getOrElse(src.snapshot)
    val toV = srcSnap.version
    val fp = sumsFingerprint(defs)
    if (!dst.exists) {
      val proto = viewRows(src.readBuckets(Set.empty), defs, toV)
      dst.create(StructType(proto.schema.fields.filterNot(f =>
        f.name == "lsn" || f.name == "op")),
        if (nBuckets > 0) nBuckets else srcSnap.nBuckets,
        properties = Map(SumsProp -> fp),
        columnDocs = Map(
          "n_turns" -> "live turns in the conversation (AggView-maintained)"))
    } else {
      // redefining an expression under an unchanged column name would
      // otherwise add deltas of the NEW expression to stored sums of the
      // OLD one — a silent mixture equal to neither definition. The
      // defining expressions are stamped on create and must match on
      // every refresh; changing a definition means a new view table (or
      // dropping the old one). A table without the stamp was not created
      // by this refresh path and is refused the same way.
      val have = dst.snapshot.properties.get(SumsProp)
      require(have.contains(fp),
        s"view ${dst.dir} was created with sums " +
          s"[${have.getOrElse("<no stamp>")}], this refresh " +
          s"passes [$fp] - incremental maintenance over a changed " +
          "definition silently corrupts; recreate the view to redefine")
    }
    val lastV = dst.snapshot.txns.get(app).map(_.batch)
    lastV match {
      case Some(v) if v >= toV =>
        AggViewResult(applied = false, "noop", v, v, 0L, None)
      case Some(v) =>
        try incremental(src, dst, defs, v, toV, mcfg)
        catch {
          // the from-snapshot (or its data files, mid-job) was vacuumed
          // out from under the window — self-heal with a recompute rather
          // than wedging the view. Executor-side misses surface wrapped
          // in SparkException, hence the cause-chain walk.
          case e: Exception if fnfInChain(e) =>
            full(src, dst, defs, v, toV, mcfg)
        }
      case None => full(src, dst, defs, -1L, toV, mcfg)
    }
  }

  /** The view's defining aggregates, bundled. */
  private final case class Defs(sums: Seq[(String, Column)],
      mins: Seq[(String, Column)], maxs: Seq[(String, Column)],
      avgs: Seq[(String, Column)]) {
    def hasExtrema: Boolean = mins.nonEmpty || maxs.nonEmpty
  }

  /** Stored value columns, in schema order. Each avg is the
    * (`_sum`, `_cnt`, visible-quotient) triple. */
  private def valueCols(defs: Defs): Seq[String] =
    Seq("n_turns") ++ defs.sums.map(_._1) ++ defs.mins.map(_._1) ++
      defs.maxs.map(_._1) ++
      defs.avgs.flatMap { case (n, _) => Seq(s"${n}_sum", s"${n}_cnt", n) }

  /** Table property holding the view's defining (name, expression) list —
    * the guard against silently refreshing with changed definitions. */
  private val SumsProp = "graft.aggview.sums"

  /** Length-prefixed encoding — injective regardless of ':' or '; ' in
    * names/renderings (a plain join could let two different definitions
    * collide across a shifted separator). Note the rendering is
    * Column.toString: rebuild the SAME definition the same way (e.g.
    * always `col("x") * 2`, not sometimes `expr("x * 2")`) — two
    * renderings of one logical expression read as a changed definition,
    * which fails safe (a require, never corruption). */
  private def sumsFingerprint(defs: Defs): String = {
    def enc(xs: Seq[(String, Column)]): String = xs.map { case (n, c) =>
      val r = c.toString
      s"${n.length}:$n=${r.length}:$r"
    }.mkString("; ")
    // sums-only views keep the exact legacy rendering, so tables stamped
    // before min/max/avg existed still pass the unchanged-definition check
    enc(defs.sums) +
      (if (defs.mins.nonEmpty) s" |min| ${enc(defs.mins)}" else "") +
      (if (defs.maxs.nonEmpty) s" |max| ${enc(defs.maxs)}" else "") +
      (if (defs.avgs.nonEmpty) s" |avg| ${enc(defs.avgs)}" else "")
  }

  private def fnfInChain(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      .exists(_.isInstanceOf[FileNotFoundException])

  /** Null contributions count as 0 in both maintenance paths. */
  private def z(c: Column): Column = coalesce(c, lit(0L))

  /** The view's defining aggregate over a source-state frame. Avg sums
    * coalesce nulls to 0 while counts skip them, so the stored pair is
    * (sum of non-null values, count of non-null values); the visible
    * quotient is one exact long/long division — identical whether the
    * pair arrived by recompute or by increments. */
  private def aggState(state: DataFrame, defs: Defs): DataFrame = {
    val cols =
      Seq(count(lit(1)).as("n_turns")) ++
        defs.sums.map { case (n, c) => sum(z(c)).as(n) } ++
        defs.mins.map { case (n, c) => min(c).as(n) } ++
        defs.maxs.map { case (n, c) => max(c).as(n) } ++
        defs.avgs.flatMap { case (n, c) => Seq(
          sum(z(c)).as(s"${n}_sum"),
          count(c).as(s"${n}_cnt"),
          when(count(c) === 0, lit(null).cast("double"))
            .otherwise(sum(z(c)) / count(c)).as(n)) }
    state.groupBy(col("conv_id")).agg(cols.head, cols.tail: _*)
  }

  /** Recomputed state as merge-envelope upsert rows. */
  private def viewRows(state: DataFrame, defs: Defs,
      toV: Long): DataFrame =
    aggState(state, defs).select(
      lit(toV).as("lsn") +: lit("U").as("op") +:
        col("conv_id") +: lit(0).cast(IntegerType).as("turn_idx") +:
        valueCols(defs).map(col): _*)

  /** Full recompute: bootstrap, and the vacuumed-window fallback. Keys in
    * the view but absent from the fresh state are tombstoned (conversations
    * fully deleted while the view was offline). */
  private def full(src: LakeTable, dst: LakeTable,
      defs: Defs, fromV: Long, toV: Long,
      mcfg: MergeConfig): AggViewResult = {
    // persist: the full-source aggregate feeds the batch TWICE (its own
    // upsert rows + the stale-key anti-join) and merge runs more than
    // one action over the batch — without it the source scan+aggregate
    // would re-execute up to 4x per full refresh
    val fresh = viewRows(src.read(asOf = Some(toV)), defs, toV).persist()
    try {
      val viewSchema = dst.snapshot.userSchema
      val stale = dst.read()
        .join(fresh.select("conv_id"), Seq("conv_id"), "left_anti")
        .select(
          lit(toV).as("lsn") +: lit("D").as("op") +:
            col("conv_id") +: lit(0).cast(IntegerType).as("turn_idx") +:
            viewSchema.fields.filter(f =>
              f.name != "conv_id" && f.name != "turn_idx")
              .map(f => lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
      val res = MergeApply.merge(dst, fresh.unionByName(stale), toV, mcfg)
      AggViewResult(res.applied, "full", fromV, toV, res.rowsInBatch, Some(res))
    } finally fresh.unpersist()
  }

  /** Change-feed maintenance: signed per-key deltas, old values from a
    * bucket-pruned view read, one MERGE. With extrema configured, keys
    * whose removed values reach the stored extremum are exactly
    * recomputed from a bucket-pruned key-semi-joined source read — the
    * retraction path min/max need by nature; everything else stays
    * O(delta). */
  private def incremental(src: LakeTable, dst: LakeTable,
      defs: Defs, fromV: Long, toV: Long,
      mcfg: MergeConfig): AggViewResult = {
    val feed = src.changeFeed(fromV, Some(toV))
    val isAdd = col("_change_type").isin("insert", "update_postimage")
    val sign = when(isAdd, lit(1L)).otherwise(lit(-1L))
    val deltaCols =
      Seq(sum(sign).as("__d_turns")) ++
        defs.sums.map { case (n, c) => sum(sign * z(c)).as(s"__d_$n") } ++
        defs.avgs.flatMap { case (n, c) => Seq(
          sum(sign * z(c)).as(s"__da_$n"),
          sum(sign * when(c.isNotNull, lit(1L)).otherwise(lit(0L)))
            .as(s"__dc_$n")) } ++
        defs.mins.flatMap { case (n, c) => Seq(
          min(when(isAdd, c)).as(s"__addmin_$n"),
          min(when(!isAdd, c)).as(s"__delmin_$n")) } ++
        defs.maxs.flatMap { case (n, c) => Seq(
          max(when(isAdd, c)).as(s"__addmax_$n"),
          max(when(!isAdd, c)).as(s"__delmax_$n")) }
    val delta = feed.groupBy(col("conv_id"))
      .agg(deltaCols.head, deltaCols.tail: _*)
    // keys whose net contribution is zero across every aggregate (e.g. a
    // text edit that left the token count unchanged) skip the rewrite;
    // any non-null added/removed extremum candidate counts as movement
    val moved = Seq(col("__d_turns") =!= lit(0L)) ++
      defs.sums.map { case (n, _) => z(col(s"__d_$n")) =!= lit(0L) } ++
      defs.avgs.flatMap { case (n, _) => Seq(
        z(col(s"__da_$n")) =!= lit(0L), z(col(s"__dc_$n")) =!= lit(0L)) } ++
      defs.mins.flatMap { case (n, _) => Seq(
        col(s"__addmin_$n").isNotNull, col(s"__delmin_$n").isNotNull) } ++
      defs.maxs.flatMap { case (n, _) => Seq(
        col(s"__addmax_$n").isNotNull, col(s"__delmax_$n").isNotNull) }
    val changed = delta.filter(moved.reduce(_ || _)).persist()
    try {
      // ONE pinned view snapshot feeds both the bucket-id computation and
      // the pruned read: resolving them from two unpinned reads races a
      // concurrent rebucket of the view — ids computed in the old bucket
      // space, pruning applied in the new one, changed keys' old rows
      // silently excluded and their aggregates overwritten by bare deltas
      val dstSnap = dst.snapshot
      val nB = dstSnap.nBuckets
      // bounded by the view's bucket count (config, not data)
      val buckets = changed
        .select(LakeTable.bucketExpr(nB).as("b")).distinct()
        .collect().map(_.getInt(0)).toSet
      val old = dst.readBuckets(buckets, asOf = Some(dstSnap.version))
      // a removed value that reaches the stored extremum may have BEEN
      // the extremum — only an exact recompute of that key can tell.
      // The absent-old-row case (col(n) null ⇒ no invalidation) is
      // exact BECAUSE the feed is an endpoint diff: delete/preimage
      // rows only occur for keys live at fromVersion — which, by view
      // consistency, always have a view row — and a key new to the view
      // arrives as pure inserts with intra-window churn already netted
      // out, so least/greatest over its adds IS its true extremum. A
      // per-commit replay feed would break this; changeFeed's contract
      // (LakeTable.scala, "endpoint diff") is the load-bearing fact.
      val invalidated: Column = (
        defs.mins.map { case (n, _) =>
          col(s"__delmin_$n").isNotNull && col(n).isNotNull &&
            col(s"__delmin_$n") <= col(n) } ++
        defs.maxs.map { case (n, _) =>
          col(s"__delmax_$n").isNotNull && col(n).isNotNull &&
            col(s"__delmax_$n") >= col(n) })
        .foldLeft(lit(false))(_ || _)
      val joined = changed.join(old, Seq("conv_id"), "left")
        .withColumn("__rec", invalidated).persist()
      try {
        val withRec =
          if (!defs.hasExtrema) joined
          else {
            val recKeys = joined.filter(col("__rec")).select("conv_id")
            val srcNB = src.snapshotAt(toV).nBuckets
            // bounded by the SOURCE bucket count (config, not data)
            val rBuckets = recKeys
              .select(LakeTable.bucketExpr(srcNB).as("b")).distinct()
              .collect().map(_.getInt(0)).toSet
            if (rBuckets.isEmpty) joined
            else {
              val srcRows = src.readBuckets(rBuckets, Some(toV))
                .join(recKeys, Seq("conv_id"), "left_semi")
              val rec = aggState(srcRows, defs).select(
                col("conv_id") +:
                  valueCols(defs).map(n => col(n).as(s"__r_$n")): _*)
              joined.join(rec, Seq("conv_id"), "left")
            }
          }
        // a recomputed key whose source rows all vanished has no rec row;
        // its op is D below and the value columns are don't-cares
        val hasRecCols = withRec.columns.contains("__r_n_turns")
        val recHit: Column =
          if (hasRecCols) col("__rec") && col("__r_n_turns").isNotNull
          else lit(false)
        def value(n: String, incrementalForm: Column): Column = {
          val base =
            if (hasRecCols) when(recHit, col(s"__r_$n"))
              .otherwise(incrementalForm)
            else incrementalForm
          base.as(n)
        }
        val newTurns = z(col("n_turns")) + col("__d_turns")
        val valueExprs =
          Seq(value("n_turns", newTurns)) ++
            defs.sums.map { case (n, _) =>
              value(n, z(col(n)) + col(s"__d_$n")) } ++
            defs.mins.map { case (n, _) =>
              value(n, least(col(n), col(s"__addmin_$n"))) } ++
            defs.maxs.map { case (n, _) =>
              value(n, greatest(col(n), col(s"__addmax_$n"))) } ++
            defs.avgs.flatMap { case (n, _) =>
              val s = z(col(s"${n}_sum")) + col(s"__da_$n")
              val c = z(col(s"${n}_cnt")) + col(s"__dc_$n")
              Seq(value(s"${n}_sum", s), value(s"${n}_cnt", c),
                value(n, when(c === lit(0L), lit(null).cast("double"))
                  .otherwise(s / c))) }
        val batch = withRec.select(
          lit(toV).as("lsn") +:
            when(newTurns === lit(0L), lit("D")).otherwise(lit("U"))
              .as("op") +:
            col("conv_id") +: lit(0).cast(IntegerType).as("turn_idx") +:
            valueExprs: _*)
        val res = MergeApply.merge(dst, batch, toV, mcfg)
        AggViewResult(res.applied, "incremental", fromV, toV,
          res.rowsInBatch, Some(res))
      } finally joined.unpersist()
    } finally changed.unpersist()
  }
}
