package graft.gen

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.model.ChangeEvent

/** Deterministic, seeded change-log generator (SURVEY.md §7.1 item 2,
  * FIXTURES.md §2.2). No external data and no wall-clock anywhere: every
  * event is a pure function of `(seed, index)`, so the same parameters give
  * byte-identical logs regardless of partitioning or cluster size. The log
  * is produced distributed via `spark.range` — it never materializes on the
  * driver, so the same code generates the 10^10-event bench log.
  *
  * Properties (all tunable):
  *   - op mix I/U/D;
  *   - hot-key skew: `hotFraction` of events target a single conv_id
  *     (its bucket is one write task's work; SURVEY.md §4 item 3);
  *   - out-of-order delivery: the delivery position is a bijective scramble
  *     of the LSN, so any contiguous delivery slice holds a scattered LSN
  *     set (late/early data across micro-batches);
  *   - duplicate delivery: `dupFraction` of delivery slots re-deliver an
  *     earlier event verbatim (same LSN — exercises exactly-once dedup,
  *     mirroring the reference's checksum duplicate-run suppression at
  *     reference: engine/wprdc_etl/pipeline/pipeline.py:338-341).
  */
final case class GenConfig(
    seed: Long = 42L,
    nEvents: Long = 100000L,
    nConvs: Long = 2000L,
    maxTurns: Int = 40,
    hotFraction: Double = 0.05, // share of events hitting the single hot conv
    dupFraction: Double = 0.02,
    deleteFraction: Double = 0.05,
    updateFraction: Double = 0.25)

object ChangeLogGen {

  /** splitmix64 — public-domain mixer; stateless per-index randomness. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d4b28e9b4f1d6dL
    x ^ (x >>> 31)
  }

  private def u01(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble

  /** Event with sequence number `lsn`, as a pure function of (seed, lsn). */
  def eventAt(cfg: GenConfig, lsn: Long): ChangeEvent = {
    val h1 = mix64(cfg.seed ^ lsn)
    val h2 = mix64(h1)
    val h3 = mix64(h2)
    val isHot = u01(h1) < cfg.hotFraction
    val conv = if (isHot) 0L else 1L + (math.abs(h2) % (cfg.nConvs - 1))
    val turn = (math.abs(h3) % cfg.maxTurns).toInt
    val r = u01(mix64(h3))
    val op =
      if (r < cfg.deleteFraction) "D"
      else if (r < cfg.deleteFraction + cfg.updateFraction) "U"
      else "I"
    val convId = f"conv_$conv%010d"
    if (op == "D") {
      ChangeEvent(lsn, op, convId, turn, null, null, null, null)
    } else {
      val roleIdx = (math.abs(mix64(h1 ^ 0x51L)) % 4).toInt
      val role = roleIdx match {
        case 0 => "user"; case 1 => "assistant"; case 2 => "system"; case _ => "tool"
      }
      val tool =
        if (role == "tool") "tool_" + (math.abs(mix64(h2 ^ 0x52L)) % 16)
        else null
      // Deterministic pseudo-text; includes lsn so every version of a turn
      // has distinct text (the per-turn text-equality invariant bites).
      val text = s"turn $turn of $convId rev $lsn :: " +
        java.lang.Long.toHexString(mix64(h3 ^ 0x53L))
      // Deterministic timestamps: epoch 2026-01-01 + per-event offset.
      val ts = new Timestamp(1767225600000L + (math.abs(h2) % 86400000L) +
        turn * 60000L)
      ChangeEvent(lsn, op, convId, turn, role, text, tool, ts)
    }
  }

  /** Coprime multiplier per modulus, computed once (a per-event gcd loop
    * was measured as pure allocation churn in the generator hot path). */
  private val coprimeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private def gcd(a0: Long, b0: Long): Long = {
    var a = a0; var b = b0
    while (b != 0) { val t = a % b; a = b; b = t }
    a
  }

  /** Bijective scramble of [0, n): affine permutation (a·slot + b) mod n.
    * Bijectivity REQUIRES gcd(a, n) = 1, so the multiplier is adjusted
    * (by +2 steps, staying odd) until coprime with n — a fixed multiplier
    * silently loses/duplicates lsns for n sharing one of its factors
    * (caught by GenPropertySpec). The multiplier is hoisted per modulus
    * and the arithmetic is primitive-long: the base multiplier is kept
    * below 2^30 so a·slot + b stays inside signed-64 for any
    * n < 1.4·10^10 (guarded), covering the 10^10-event bench scale
    * without 128-bit math. deliverySlot -> lsn. */
  def slotToLsn(cfg: GenConfig, slot: Long, n: Long): Long = {
    require(n < 14000000000L,
      s"n=$n overflows the primitive affine scramble; needs 128-bit mulmod")
    var a = coprimeCache.getOrDefault(n, 0L)
    if (a == 0L) {
      var c = 0x2545F491L | 1L
      while (gcd(c, n) != 1) c += 2
      coprimeCache.put(n, c)
      a = c
    }
    val b = Math.floorMod(mix64(cfg.seed ^ 0x9E37L) & Long.MaxValue, n)
    Math.floorMod(a * slot + b, n)
  }

  /** LSN delivered at a given delivery slot: normally the scrambled slot,
    * but a `dupFraction` of slots re-deliver an earlier slot's event. */
  def deliveredLsn(cfg: GenConfig, slot: Long): Long = {
    val isDup = u01(mix64(cfg.seed ^ mix64(0xD0B1EL ^ slot))) < cfg.dupFraction
    val effSlot = if (isDup && slot > 0) slot / 2 else slot
    slotToLsn(cfg, effSlot, cfg.nEvents)
  }

  /** The change log in DELIVERY order: row i of the output is the i-th
    * event delivered. LSNs are scattered relative to delivery position
    * (out-of-order), and some events are delivered twice (at-least-once). */
  def changeLog(spark: SparkSession, cfg: GenConfig): Dataset[ChangeEvent] = {
    import spark.implicits._
    spark.range(0, cfg.nEvents, 1).as[Long].mapPartitions { it =>
      it.map(slot => eventAt(cfg, deliveredLsn(cfg, slot)))
    }
  }

  /** Sequential in-memory oracle: the exact final table state after
    * replaying the whole log (LWW by max LSN; delete wins only if it is the
    * max-LSN event for its key). Driver-side — tests only. */
  def oracleFinalState(cfg: GenConfig): Seq[graft.model.TranscriptRow] = {
    // Iterate DELIVERED events (dup slots hijack another lsn's slot, so the
    // delivered lsn set is not necessarily all of [0, n)).
    val last = scala.collection.mutable.HashMap.empty[(String, Int), ChangeEvent]
    var slot = 0L
    while (slot < cfg.nEvents) {
      val e = eventAt(cfg, deliveredLsn(cfg, slot))
      val k = (e.conv_id, e.turn_idx)
      last.get(k) match {
        case Some(prev) if prev.lsn > e.lsn => ()
        case _ => last(k) = e
      }
      slot += 1
    }
    last.valuesIterator
      .filter(_.op != "D")
      .map(e => graft.model.TranscriptRow(e.conv_id, e.turn_idx, e.role, e.text, e.tool, e.ts))
      .toSeq
      .sortBy(r => (r.conv_id, r.turn_idx))
  }

  /** The log as a DataFrame with the envelope schema (delivery order kept
    * via monotonically increasing file/partition layout when written). */
  def changeLogDF(spark: SparkSession, cfg: GenConfig): DataFrame =
    changeLog(spark, cfg).toDF()

  /** Write delivery slots [lo, hi) as ONE flat parquet file
    * `dir/<name>.parquet` (the streaming file source lists flat files, not
    * directories). */
  def writeBatchFile(spark: SparkSession, cfg: GenConfig, dir: String,
      name: String, lo: Long, hi: Long): Unit = {
    import spark.implicits._
    val tmp = s"$dir/.__tmp_$name"
    spark.range(lo, hi, 1).as[Long]
      .mapPartitions(_.map(slot => eventAt(cfg, deliveredLsn(cfg, slot))))
      .toDF()
      // repartition(1), NOT coalesce(1): coalesce would collapse the whole
      // generation into one task; repartition keeps it parallel and only
      // funnels the write
      .repartition(1)
      .write.mode("overwrite").parquet(tmp)
    val conf = spark.sessionState.newHadoopConf()
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val part = fs.listStatus(tmpPath)
      .find(f => f.getPath.getName.endsWith(".parquet")).get.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$dir/$name.parquet"))
    fs.delete(tmpPath, true)
  }

  /** Write the log as `nBatches` delivery batches under `dir`, each
    * batch as `filesPerBatch` flat parquet files (a real binlog feed is
    * partitioned — e.g. Kafka topic partitions — so a micro-batch arrives
    * as several independently-scannable slices; replay with
    * `maxFilesPerTrigger = filesPerBatch` to group one batch per
    * trigger). The feed bytes are identical regardless of the cluster
    * size that later reads them. */
  def writeBatches(spark: SparkSession, cfg: GenConfig, dir: String,
      nBatches: Int, filesPerBatch: Int = 1): Unit = {
    val per = math.max(1L, cfg.nEvents / nBatches)
    (0 until nBatches).foreach { b =>
      val lo = b * per
      val hi = if (b == nBatches - 1) cfg.nEvents else math.min(cfg.nEvents, lo + per)
      if (lo < hi) {
        val sub = math.max(1L, (hi - lo) / filesPerBatch)
        (0 until filesPerBatch).foreach { p =>
          val plo = lo + p * sub
          val phi = if (p == filesPerBatch - 1) hi else math.min(hi, plo + sub)
          if (plo < phi)
            writeBatchFile(spark, cfg, dir, f"batch_$b%05d_p$p%02d", plo, phi)
        }
      }
    }
  }
}
