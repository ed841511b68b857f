package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/**
 * Scale-engineering operators: skew mitigation and co-located joins — the
 * knobs that matter at 100 TB and are invisible at test scale.
 */
object Scale {

  /**
   * Width probe for the spread guards below, WITHOUT materializing the
   * physical plan: `df.rdd.getNumPartitions` (the previous probe) runs
   * full physical planning AND whole-stage codegen compilation of the
   * subtree just to read a partition count, and the caller's later use of
   * the frame plans it all over again — pure planning-time tax at every
   * spread site (~50 operators, 1-3 sites per query). Datasets are
   * analyzed EAGERLY at construction, so walking the analyzed logical
   * plan costs microseconds: when the frame is scan/filter/project over
   * file relations (every in-repo call site), the scan partition count
   * is estimated from the relation's cached file-listing totals with
   * Spark's own split formula (maxSplitBytes = min(maxPartitionBytes,
   * max(openCost, totalBytes/parallelism)); files charge openCost). Any
   * other shape (joins, generates, post-shuffle frames) falls back to
   * the physical probe — correctness of the ESTIMATE only moves where
   * the spread fires, never a result (the spread is placement only).
   *
   * Known limitation (deliberate): the size read is the relation's FULL
   * file listing, ignoring partition pruning and pushed filters, so a
   * heavily pruned scan over a partitioned table could be judged wide
   * and skip its spread — the unsafe over-estimate direction. Acceptable
   * because no in-repo call site feeds a partition-pruned scan into a
   * spread (the fixtures are single unpartitioned files); a caller that
   * does should estimate from the pruned FileIndex listing instead.
   */
  private def estimatedWidthOpt(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val sess = df.sparkSession
    var bytes = 0L
    var nFiles = 0L
    var repWidth = 0
    var simple = true
    // Union-of-scans was tried in the allowed set (it is exchange-free,
    // so estimating it is SAFE) and reverted as not worth it: the one
    // union-fed window caller (Scale.upsert, ~25k rows) gained 32
    // never-coalesced near-empty tasks for no measured win — unlike the
    // corpus-scale scan windows this guard exists for. Any non-matching
    // node (joins, aggregates, generates, unions) drops to the caller's
    // fallback policy. EXPLICIT repartitions are allowed and read
    // directly: a frame that was already spread (our own
    // REPARTITION_BY_NUM, never AQE-coalesced) has exactly that width,
    // and recognizing it here keeps an operator-internal spread a no-op
    // on an already-spread input WITHOUT the physical probe — which
    // would otherwise execute the upstream exchange under AQE (the
    // q_cdc_apply hazard) just to learn a number the plan states.
    df.queryExecution.analyzed.foreach {
      case _: Project | _: Filter | _: SubqueryAlias => ()
      case r: RepartitionByExpression => r.optNumPartitions match {
        case Some(n) => repWidth = math.max(repWidth, n)
        case None => simple = false // AQE-coalescible: width unknowable
      }
      case r: Repartition =>
        // Repartition covers BOTH repartition(n) (shuffle=true — an exact
        // REPARTITION_BY_NUM width) and coalesce(n) (shuffle=false — an
        // upper bound only: coalesce can't widen a narrower input, so
        // taking n as the width would OVER-estimate and skip a needed
        // spread). Only the shuffling form states the width.
        if (r.shuffle) repWidth = math.max(repWidth, r.numPartitions)
        else simple = false
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          bytes += fs.location.sizeInBytes
          nFiles += fs.location.inputFiles.length
        case _ => simple = false
      }
      case _ => simple = false
    }
    if (!simple || nFiles == 0L) return None
    if (repWidth > 0)
      return Some(repWidth) // the explicit exchange defines the width
    val conf = sess.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val parallelism = sess.sparkContext.defaultParallelism
    // openCost enters the split-size derivation (as in Spark's own
    // formula) but NOT the partition-count numerator: a single file
    // smaller than openCost is ONE scan partition, and for this guard an
    // UNDER-estimate is the safe direction — it can only fire a redundant
    // spread on an already-wide tiny scan (one no-op-sized exchange),
    // while an over-estimate would skip the spread that un-serializes a
    // narrow scan's CPU-bound tail.
    val totalWithOpen = bytes + nFiles * openCost
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalWithOpen / math.max(parallelism, 1)))
    Some(math.max(1L, (bytes + maxSplit - 1) / math.max(maxSplit, 1L))
      .min(Int.MaxValue).toInt)
  }

  /** [[estimatedWidthOpt]] with the physical-probe fallback for non-scan
    * shapes. The fallback is safe ONLY for pre-shuffle frames: under AQE,
    * `.rdd.getNumPartitions` on a plan that already contains exchanges
    * EXECUTES those upstream stages just to resolve the partition count
    * (measured: q_cdc_apply 0.38 → 0.63 s when a post-shuffle frame hit
    * it). Callers that may receive arbitrary pipelines must use
    * [[spreadIfScanNarrow]], which never falls back. */
  private def estimatedWidth(df: DataFrame): Int =
    estimatedWidthOpt(df).getOrElse(df.rdd.getNumPartitions)

  /**
   * Spread a DataFrame across the session's full parallelism BEFORE a
   * CPU-bound per-row stage (shingling, signature hashing, tokenize +
   * map-side aggregation) — but only when the scan actually arrives
   * narrower than the session width. A compact corpus read from one small
   * file is ONE partition, which serializes the whole downstream projection
   * into a single task (measured 3.3 s of a 4.3 s query); a 100 TB corpus
   * already spans thousands of partitions, and there the guard makes this
   * a no-op instead of a pointless full-text shuffle.
   */
  def spreadForCompute(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    spreadForCompute(df, Seq(key))

  /** Spread ONLY when the frame is a provably-narrow scan/filter/project
    * over file relations — for operators (e.g. [[Dedup.exactByKey]]) that
    * receive ARBITRARY caller pipelines: a non-scan shape no-ops instead
    * of falling back to the physical probe, which under AQE would execute
    * the caller's upstream stages (see [[estimatedWidth]]). The produced
    * HashPartitioning(keys, width) satisfies a downstream window's or
    * aggregate's ClusteredDistribution over the SAME key list, so when it
    * fires it REPLACES that operator's own exchange rather than adding
    * one (EnsureRequirements sees the requirement already met). */
  def spreadIfScanNarrow(df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    if (estimatedWidthOpt(df)
        .exists(_ < df.sparkSession.sparkContext.defaultParallelism))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        keys: _*)
    else df

  /** Multi-key [[spreadForCompute]] (same physical-probe fallback). */
  def spreadForCompute(df: DataFrame, keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    if (estimatedWidth(df) < df.sparkSession.sparkContext.defaultParallelism)
      // EXPLICIT partition count, not repartition(key): a keyed repartition
      // without a count is a REPARTITION_BY_COL exchange, which AQE freely
      // COALESCES by its *input* bytes — and the whole point of this spread
      // is the CPU-bound explode/hash stage BEHIND the exchange, whose work
      // AQE cannot see (a 2 MB doc corpus explodes to 100× that in
      // shingles). Measured: AQE folded the spread back to 1–2 partitions
      // and q_char_ngrams ran its trigram aggregate nearly single-threaded
      // (2.35 s, 6 tasks); with the explicit count (REPARTITION_BY_NUM is
      // never coalesced) the same stage fans across the session width.
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)
    else df

  /**
   * The working set of an iterative operator: `df`'s `cols` spread by
   * `key` ([[spreadForCompute]]) and persisted for the operator's repeated
   * passes, with the release to run once it is done. A `df` persisted
   * already is its owner's working set — spread, and released, by the
   * owner (`graft.Ann.build`'s corpus, which coarse training, codebook
   * training and the encode all read) — so it is used as it is rather
   * than cached a second time, and the release does nothing.
   */
  def pinned(df: DataFrame, key: Column, cols: Column*): (DataFrame, () => Unit) =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      (df.select(cols: _*), () => ())
    else {
      val p = spreadForCompute(df.select(cols: _*), key)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, () => { p.unpersist(blocking = false); () })
    }

  /**
   * Round-robin variant of [[spreadForCompute]] for stages whose result is
   * placement-independent (exact-decimal finishes, commutative merges):
   * widens a narrow scan WITHOUT hashing a key column. Use it when the
   * only natural key is a wide value column (an embedding, a text body) —
   * hashing those wastes CPU and, on a duplicate-heavy corpus, piles all
   * clones onto one partition, exactly the skew the spread exists to fix.
   */
  def spreadRoundRobin(df: DataFrame): DataFrame =
    if (estimatedWidth(df) < df.sparkSession.sparkContext.defaultParallelism)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /**
   * Free operator-held persisted stages once the caller's FIRST action
   * over `result` completes — the lazy-result analogue of `Ivf.train`'s
   * persist → try/finally → unpersist (which only works because train is
   * eager). An operator whose returned frame is still lazy cannot
   * unpersist its multi-consumer intermediate before returning (the
   * caller hasn't run it yet), so it registers a QueryExecutionListener
   * that watches for an execution whose analyzed plan contains `result`'s
   * plan; when that execution finishes (success OR failure), the held
   * frames unpersist and the listener removes itself. A library session
   * composing hundreds of operators then holds no orphaned
   * MEMORY_AND_DISK blocks, without relying on the harness's per-query
   * sweep or driver-GC ContextCleaner latency.
   *
   * Declared trade: the caller's SECOND action over the same frame
   * recomputes the intermediate (correct, just uncached) — the
   * write-once / count-once shape of every pipeline sink. A caller who
   * wants multi-action reuse should persist the RESULT, which it owns.
   * If the result is never materialized the listener idles (one plan
   * walk per session action) and the blocks stay LRU-evictable — the
   * status-quo convention, no worse.
   */
  def releaseAfterUse(result: DataFrame, held: Seq[DataFrame]): DataFrame = {
    val lm = result.sparkSession.listenerManager
    val target = result.queryExecution.analyzed
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      private def fire(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
        // A matcher failure must fail OPEN (free on this action): an
        // early free only costs a recompute; a never-free is the leak
        // this helper exists to close.
        val uses =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case _: Throwable => true }
        if (uses && done.compareAndSet(false, true)) {
          held.foreach(_.unpersist(blocking = false))
          lm.unregister(this)
        }
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = fire(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = fire(qe)
    }
    lm.register(listener)
    result
  }

  /**
   * Skew diagnostic: the top-`n` heaviest keys with row counts and corpus
   * share — the report that picks a [[saltedJoin]] saltFactor (or decides
   * AQE's skew split suffices) BEFORE the join melts a reducer. One hash
   * aggregate + TakeOrderedAndProject (per-partition n-row heaps — never
   * a full sort of the key space); the total rides a broadcast one-row
   * cross join, no driver collect. Share is one exact-int division.
   */
  def skewReport(df: DataFrame, keyCol: String, n: Int): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("__tot"))
    counts.crossJoin(broadcast(total))
      .orderBy(col("n_rows").desc, col(keyCol))
      .limit(n)
      .select(col(keyCol), col("n_rows"),
        (col("n_rows").cast("double") / col("__tot")).as("share"))
  }

  /**
   * Skew-salted equi-join (large LEFT against small-ish RIGHT on `key`):
   * the left side gets a deterministic salt in [0, saltFactor) derived from
   * hashing `saltFrom` columns; the right side is exploded once per salt
   * value. A hot key's rows then spread over `saltFactor` reducers instead
   * of one. Deterministic (no rand()), so results are reproducible.
   *
   * AQE's skew-join handling covers sort-merge cases adaptively; explicit
   * salting remains the tool when a single key dominates so heavily that
   * even a split partition is one task's worth of data, or when the join
   * is hash-based and AQE cannot split it.
   */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int, saltFrom: Seq[String], joinType: String = "inner"): DataFrame = {
    // Right/full outer would emit saltFactor duplicate rows for every
    // unmatched small-side key (each exploded copy survives as an outer
    // row), so only large-side-preserving join types are allowed.
    val allowed = Set("inner", "left", "leftouter", "leftsemi", "leftanti")
    require(allowed(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left/semi/anti joins, not $joinType")
    val salted = large.withColumn("__salt",
      pmod(xxhash64(saltFrom.map(col): _*), lit(saltFactor)).cast("int"))
    val exploded = small.withColumn("__salt",
      explode(lit((0 until saltFactor).toArray)))
    salted.join(exploded, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /**
   * Interval-OVERLAP equi-ification: pairs (a, b) with a.lo ≤ b.hi AND
   * b.lo ≤ a.hi (closed intervals), WITHOUT the plan Spark gives the raw
   * theta join — a BroadcastNestedLoopJoin that is O(|A|·|B|) compares
   * and a driver OOM the moment neither side broadcasts. Both sides
   * decompose into fixed-width buckets (explode over ⌈span/width⌉+1
   * ids), candidates meet through an ordinary EQUI join on the bucket id
   * — hash-partitioned, AQE-splittable, sort-merge-able — and each true
   * pair is emitted exactly ONCE by keeping only the bucket containing
   * max(a.lo, b.lo), the overlap's first bucket (no distinct pass, no
   * duplicate downstream work).
   *
   * `bucketWidth` is the fan-out/selectivity dial: each row explodes
   * into span/width + 1 copies, and a bucket's candidates are the rows
   * crossing it — set it near the TYPICAL interval length (p50, not
   * max). One pathological mega-interval only linearly explodes its own
   * row; a hot bucket splits under AQE because the join is equi. Rows
   * with hi < lo (empty intervals) are dropped, mirroring the
   * no-overlap semantics. Column names must be disjoint; lo/hi are
   * numeric (callers bucket time as epoch days/seconds first).
   */
  def intervalJoin(a: DataFrame, b: DataFrame, aLo: String, aHi: String,
      bLo: String, bHi: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(a.columns.intersect(b.columns).isEmpty,
      s"column names must be disjoint, both sides have: " +
        a.columns.intersect(b.columns).mkString(", "))
    def bk(c: org.apache.spark.sql.Column) =
      floor(c.cast("double") / bucketWidth).cast("long")
    val ax = a.filter(col(aHi) >= col(aLo))
      .withColumn("__bka", explode(sequence(bk(col(aLo)), bk(col(aHi)))))
    val bx = b.filter(col(bHi) >= col(bLo))
      .withColumn("__bkb", explode(sequence(bk(col(bLo)), bk(col(bHi)))))
    ax.join(bx, col("__bka") === col("__bkb") &&
        col(aLo) <= col(bHi) && col(bLo) <= col(aHi) &&
        col("__bka") === bk(greatest(col(aLo), col(bLo))))
      .drop("__bka", "__bkb")
  }

  /**
   * Skew-safe exact COUNT(DISTINCT value) per group, two-phase: phase 1
   * groups by (key, salt(value)) so a hot key's value set spreads over
   * `saltFactor` reducers; phase 2 sums the per-salt distinct counts. Still
   * EXACT — the salt is a hash of the VALUE, so each distinct value lands
   * in exactly one (key, salt) cell and is counted exactly once.
   *
   * Catalyst's own distinct-aggregate rewrite already dedups map-side, but
   * the final per-key count still funnels every distinct value of a hot key
   * through one reducer's hash table; at 100 TB a key holding 10^9
   * distincts OOMs that task. The salt caps any single task's state at
   * roughly |distincts(hot)| / saltFactor.
   */
  def saltedCountDistinct(df: DataFrame, groupCols: Seq[String],
      valueCol: String, saltFactor: Int, alias: String): DataFrame =
    df.withColumn("__salt",
        pmod(xxhash64(col(valueCol)), lit(saltFactor)).cast("int"))
      .groupBy((groupCols :+ "__salt").map(col): _*)
      .agg(countDistinct(col(valueCol)).as("__cd"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__cd")).as(alias))

  /**
   * Write a DataFrame as a bucketed (and optionally sorted) table: both
   * sides of a recurring fact-fact join bucketed on the join key join
   * WITHOUT a shuffle — the exchange disappears from the plan because the
   * on-disk layout already satisfies the distribution requirement.
   */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Read a bucketed table back (bucket metadata comes from the catalog). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /**
   * CDC-style upsert: merge `changes` into `base` by `keys`; per key, the
   * row with the highest `versionCol` wins, and on a version tie the
   * change row beats the base row (a tagged source column makes the
   * survivor deterministic even for replayed deltas). One shuffle on the
   * key, no driver round-trip — the incremental-refresh primitive for a
   * corpus that receives deltas rather than full reloads.
   */
  def upsert(base: DataFrame, changes: DataFrame, keys: Seq[String],
      versionCol: String): DataFrame =
    Dedup.exactByKey(
      base.withColumn("__src", lit(0))
        .unionByName(changes.withColumn("__src", lit(1))),
      keys, Seq(col(versionCol).desc, col("__src").desc))
      .drop("__src")

  /**
   * [[upsert]] WITH tombstones: the change feed carries an op column
   * ('U' upsert, 'D' delete); per key the highest `versionCol` wins
   * (change beats base on ties, as in [[upsert]]) and a winning delete
   * removes the key entirely — the takedown / GDPR-erasure primitive
   * plain upsert cannot express. Same single shuffle on the key; a
   * replayed delete stays deleted (idempotent by the same version law).
   * Deletion requires the EXPLICIT tombstone 'D': a NULL or unrecognized
   * op is treated as an upsert (null-safe compare), because a malformed
   * upstream record silently erasing a key is the one failure mode an
   * erasure primitive must not have.
   */
  def applyCdc(base: DataFrame, changes: DataFrame, keys: Seq[String],
      versionCol: String, opCol: String): DataFrame =
    Dedup.exactByKey(
      base.withColumn(opCol, lit("U")).withColumn("__src", lit(0))
        .unionByName(changes.withColumn("__src", lit(1))),
      keys, Seq(col(versionCol).desc, col("__src").desc))
      .filter(!(col(opCol) <=> "D"))
      .drop("__src", opCol)

  /**
   * Snapshot diff: derive the change feed BETWEEN two versions of a table
   * — the inverse of [[applyCdc]] (diff(a, b) applied to a reproduces b).
   * One full-outer shuffle join on the key classifies every key:
   * 'I' (key only in `neu`), 'D' (only in `old`), 'U' (payload differs,
   * null-safe column-wise via struct equality), '=' (identical). Output
   * is (keys…, op) — the payload never leaves the join, so the exchange
   * carries keys + one comparison struct per side and the projection
   * prunes everything else at the scan.
   *
   * `hashPayload = true` pre-reduces each side to (keys, xxhash64(payload))
   * before the join — an 8-byte shuffle payload per row, the shape for a
   * 100 TB nightly diff where the payload is wide; classification is then
   * correct up to a 2⁻⁶⁴ hash collision (a colliding 'U' reads as '='),
   * which a diff-then-verify pipeline tolerates and an erasure audit
   * should not (leave it false there).
   */
  def snapshotDiff(old: DataFrame, neu: DataFrame, keys: Seq[String],
      hashPayload: Boolean = false): DataFrame = {
    val payloadCols = old.columns.filterNot(keys.contains).toSeq
    require(payloadCols.nonEmpty, "diff needs at least one non-key column")
    require(neu.columns.filterNot(keys.contains).toSeq == payloadCols,
      "snapshots must share a schema")
    def side(df: DataFrame, tag: String) = {
      val payload =
        if (hashPayload) xxhash64(payloadCols.map(col): _*)
        else struct(payloadCols.map(col): _*)
      df.select(keys.map(col) :+ payload.as(s"__p_$tag") :+
        lit(1).as(s"__in_$tag"): _*)
    }
    side(old, "a").join(side(neu, "b"), keys, "full_outer")
      .select(keys.map(col) :+
        when(col("__in_a").isNull, "I")
          .when(col("__in_b").isNull, "D")
          .when(col("__p_a") <=> col("__p_b"), "=")
          .otherwise("U").as("op"): _*)
  }

  /**
   * Incremental aggregate maintenance: merge a delta's partial counts/sums
   * into a maintained summary — union + re-aggregate, one shuffle on the
   * group keys. The law `merge(summarize(A), summarize(B)) ==
   * summarize(A ∪ B)` holds because count and sum are commutative monoids;
   * at 100 TB this turns a daily full recompute into a delta-sized job.
   */
  def mergeCounts(summary: DataFrame, delta: DataFrame, keys: Seq[String],
      countCol: String = "n", sumCols: Seq[String] = Nil): DataFrame =
    summary.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(countCol)).as(countCol),
        sumCols.map(c => sum(col(c)).as(c)): _*)

  /**
   * Mergeable distinct-count sketches (Apache DataSketches HLL via Spark's
   * hll_* functions): [[sketchDistinct]] materializes one compact sketch
   * per group per slice; [[mergeDistinct]] unions slices per group and
   * estimates. The incremental twin of countDistinct, as [[mergeCounts]]
   * is of count/sum: at 100 TB, distinct-tokens-per-language stays a
   * per-day job plus an O(sketch-bytes) union over history, instead of a
   * full recompute — and the union is exact over the sketches (no
   * re-reading data), with estimation error ~1.6% at the default lgK=12.
   */
  def sketchDistinct(df: DataFrame, keys: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("sketch"))

  /** Union per-slice sketches down to `keys` and estimate the distincts. */
  def mergeDistinct(sketches: DataFrame, keys: Seq[String]): DataFrame =
    sketches.groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("approx_distinct"))

  /**
   * Robust per-group outlier detection via median absolute deviation: a
   * row is an outlier when |x − median| > k·MAD. Unlike mean/stddev
   * z-scores, both statistics have a 50% breakdown point — the outliers
   * themselves cannot drag the threshold that flags them. Two exact
   * percentile aggregates plus broadcast joins of |groups|-row statistics
   * tables; the data side is scanned, never shuffled beyond the group-by.
   * At corpus scale the same shape runs with approx_percentile when exact
   * medians stop being worth a sort.
   */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Double): DataFrame = {
    val g = groupCols.map(col)
    val med = df.groupBy(g: _*)
      .agg(median(col(valueCol)).as("__med"))
    val dev = df.join(broadcast(med), groupCols)
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
    val stats = dev.groupBy(g: _*)
      .agg(median(col("__dev")).as("__mad"))
    dev.join(broadcast(stats), groupCols)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("__dev") > lit(k) * col("__mad"), 1)).as("n_outliers"),
        round(max(col("__med")), 6).as("med"),
        round(max(col("__mad")), 6).as("mad"))
  }

  /**
   * Order-independent, engine-portable table checksum: per row, the 56-bit
   * portable hash of the '|'-joined column renderings ([[rowChecksum]]),
   * summed as decimal(38,0) — commutative, so ANY partitioning/ordering of
   * the same rows gives the same digest, and any engine with md5
   * reproduces it. The migration/anonymization validation primitive:
   * checksum source and copy (or pre/post-anonymization on the KEEP
   * columns) and compare two scalars instead of shipping 100 TB twice.
   * One scan + a partial-aggregating sum; nothing but the digest moves.
   * Additively mergeable like [[mergeCounts]]: checksum(A ∪ B) =
   * checksum(A) + checksum(B), so per-shard / per-day digests maintain a
   * corpus digest incrementally without rescanning history.
   */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame =
    checksumBy(df, Nil, rowChecksum(cols))

  /**
   * The row hash [[tableChecksum]] sums: the first 14 hex digits of md5
   * over an injective rendering of `cols`, as a long — computed by the
   * codegen'd [[graft.functions.PortableHash]] kernel, bit-identical to
   * the composed `conv(substring(md5(x), 1, 14), 16, 10)` (ScaleSpec pins
   * it on nulls, unicode, doubles, timestamps and decimals).
   */
  def rowChecksum(cols: Seq[String]): Column = {
    // Injective row rendering: NULL -> "0"; value v -> "1" + len(v) + ":"
    // + v. The length prefix makes field boundaries unambiguous — without
    // it, ("a|1b","c") and ("a","b|1c") would concatenate identically and
    // a corruption that shifts bytes between adjacent columns would pass
    // validation. Written as coalesce, not CASE WHEN: a cast to string is
    // null exactly when its input is, and an always-evaluated branch lets
    // subexpression elimination render each value once, not twice.
    val rendered = cols.map { c =>
      val v = col(c).cast("string")
      coalesce(concat(lit("1"), length(v).cast("string"), lit(":"), v), lit("0"))
    }
    GraftBridge.column(PortableHash(
      GraftBridge.expression(concat_ws("|", rendered: _*)), 14))
  }

  /**
   * Sums the row hash `rowHash` ([[rowChecksum]]) per group of `keys`
   * (none: one row for the whole frame, also when it is empty) into
   * `keys…, checksum, n_rows` — the digest format of [[tableChecksum]],
   * so many tables' digests can come out of one job.
   */
  private[graft] def checksumBy(df: DataFrame, keys: Seq[String],
      rowHash: Column): DataFrame =
    // The digest leaves the engine as a FIXED-WIDTH STRING: the decimal sum
    // exceeds int64 (2^56 per row × row count), the one numeric class whose
    // rendering diverges across engines' compare layers (exact Decimal vs
    // float64's "7.18e+20"). Width 38 = decimal(38,0)'s full precision, so
    // lpad can never truncate high digits no matter the row count (width 30
    // would silently drop low-order digits past ~10^13 rows — exactly the
    // collision a checksum exists to catch); zero-padding keeps string
    // order = numeric order. The sum itself stays decimal(38,0).
    df.groupBy(keys.map(col): _*)
      .agg(sum(rowHash.cast("decimal(38,0)")).as("__sum"),
        count(lit(1)).as("n_rows"))
      .select(keys.map(col) ++ Seq(
        lpad(col("__sum").cast("string"), 38, "0").as("checksum"),
        col("n_rows")): _*)

  /**
   * Distributed column profile in long format: per column — non-null count,
   * exact distinct count, min/max rendered as strings (one uniform row
   * type). The engine-side big brother of the reference's configGen sample
   * (config-generator.ts:38-61): one scan + aggregate instead of per-table
   * LIMIT probes, so profiling 100 TB is a job, not a driver loop.
   */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // internal aliases are index-based so arbitrary input column names
    // (spaces, dashes, quotes) never reach the parser; the only user text
    // in the selectExpr is the single-quote-escaped column-name literal
    val metrics = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(col(c)).as(s"__m${i}_nn"),
        countDistinct(col(c)).as(s"__m${i}_nd"),
        min(col(c)).cast("string").as(s"__m${i}_min"),
        max(col(c)).cast("string").as(s"__m${i}_max"))
    }
    // NOT spread: a round-robin widen was tried (r17) and measured WORSE
    // (0.54 → 0.96 s at sf0.1) — the multi-distinct aggregate expands to
    // 4 streams per column, so the spread multiplies exchange rows faster
    // than the extra cores repay at this scale; on a wide corpus the scan
    // parallelism is already there.
    val one = df.agg(count(lit(1)).as("__n"), metrics: _*)
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      val quoted = "'" + c.replace("'", "''") + "'"
      s"$quoted, __n, __m${i}_nn, __m${i}_nd, __m${i}_min, __m${i}_max"
    }.mkString(", ")
    one.selectExpr(s"stack(${cols.length}, $stacked) AS " +
      "(column_name, n_rows, n_nonnull, n_distinct, min_str, max_str)")
  }
}
