package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-key equi-join with the reference's exact output semantics
  * (reference: src/ts/dataframe.ts:157-207, src/zig/dataframe.zig:696-816).
  *
  * Semantics preserved:
  *  - types inner / left / right / full; `cross` is declared but
  *    unimplemented in the reference (dataframe.ts:17) — we implement it as
  *    a true cross join (documented extension, SURVEY.md §7.6).
  *  - output row = `{...leftRow, ...rightRow}` ⇒ on shared column names the
  *    RIGHT side wins whenever a right row matched (even if its value is
  *    null) — JS spread semantics (dataframe.ts:189). Unmatched left rows
  *    keep their left values; unmatched right rows have null left columns.
  *  - column order: left columns (overlaps stay in left position but carry
  *    the right value when matched), then right-only columns.
  *
  * Scale: this lowers to a plain Catalyst equi-join, so the planner is free
  * to pick broadcast / shuffled-hash / sort-merge, AQE can re-plan skew, and
  * the right-wins projection is a zero-shuffle post-join `select`.
  */
object Joins {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private val Mark = "__graft_r_matched__"

  def joinRef(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      how: String = "inner",
      broadcastRight: Boolean = false): DataFrame = {

    if (how == "cross") return left.crossJoin(right)

    val sparkHow = how match {
      case "inner" => "inner"
      case "left"  => "left_outer"
      case "right" => "right_outer"
      case "full"  => "full_outer"
      case other   => throw new IllegalArgumentException(s"unknown join type: $other")
    }

    // Prefix right columns so overlapping names are unambiguous in the
    // join output; the final select restores reference naming.
    val rPrefixed0 = right.columns.foldLeft(right.withColumn(Mark, lit(true))) {
      (d, c) => d.withColumnRenamed(c, s"__r_$c")
    }
    val rPrefixed = if (broadcastRight) broadcast(rPrefixed0) else rPrefixed0

    val joined = left.join(rPrefixed, left(leftKey) === rPrefixed(s"__r_$rightKey"), sparkHow)

    val rightCols = right.columns.toSet
    val matched = col(Mark).isNotNull

    val leftPart: Seq[Column] = left.columns.toSeq.map { c =>
      if (rightCols.contains(c))
        when(matched, col(s"__r_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    val rightOnly: Seq[Column] =
      right.columns.toSeq.filterNot(left.columns.contains).map(c => col(s"__r_$c").as(c))

    joined.select(leftPart ++ rightOnly: _*)
  }

  /** Same-name-on-both-sides form (reference `on: col`). */
  def joinRef(left: DataFrame, right: DataFrame, on: String, how: String): DataFrame =
    joinRef(left, right, on, on, how)

  /** Extensions beyond the reference's single equi-join (free in Spark,
    * exposed so a reference user migrating up gets the full relational set).
    */
  def semiJoin(left: DataFrame, right: DataFrame, lk: String, rk: String): DataFrame =
    left.join(right, left(lk) === right(rk), "left_semi")
  def antiJoin(left: DataFrame, right: DataFrame, lk: String, rk: String): DataFrame =
    left.join(right, left(lk) === right(rk), "left_anti")

  /** Bloom-pruned semi join: filter the BIG side with a Bloom filter
    * built from the small side's keys BEFORE the join shuffles — the
    * explicit form of the runtime row-level filtering a warehouse
    * planner injects, as an operator.
    *
    * Exactness: a Bloom filter has no false negatives, so the pre-filter
    * never drops a row the semi join would keep; false positives are
    * removed by the exact semi join over the survivors. The result is
    * bit-identical to `semiJoin(big, small)`.
    *
    * Scale shape: the filter is one bounded driver-side build over the
    * small side (`expectedItems` keys at `fpp` → ~1.2 MB per million
    * keys), shipped into a codegen
    * [[graft.functions.SketchGate.bloom_contains]] probe on the scan
    * side of the big table. When the small side is selective but too big
    * to broadcast-join cheaply — the 100 TB fact-to-filtered-dimension
    * case — the shuffle carries only probable matches instead of the
    * whole fact table. `expectedItems` defaults to the small side's row
    * count, observed on its checkpoint.
    *
    * The small side's plan is referenced twice (bloom build, the join
    * probe side) — it is `localCheckpoint`ed here so an
    * expensive filtered-dimension plan computes ONCE (the
    * connectedComponents lesson: multiply-referenced relations
    * re-execute, and AQE broadcast re-planning defeats ReusedExchange).
    *
    * Sizing guard: when `expectedItems` UNDERestimates, the filter
    * saturates and the realized false-positive rate blows past `fpp` —
    * still correct (the semi join removes false positives) but the gate
    * admits nearly everything and the pre-shuffle pruning silently
    * evaporates. The realized `expectedFpp()` is logged after the build
    * and warned about past 10× the requested `fpp`, mirroring the LSH
    * dispatcher's logging discipline.
    */
  def bloomPrunedSemiJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String,
      expectedItems: Option[Long] = None,
      fpp: Double = 0.01): DataFrame = {
    // the count rides the checkpoint's own action as an Observation
    // (a count() after it would be a second action of two jobs);
    // expectedItems only overrides SIZING
    val (smallCk, cnt) = PlanUtil.checkpointCounted(small)
    // empty small side: stat.bloomFilter's aggregate yields a null
    // buffer (readFrom NPEs — found by the equality fuzz spec), and the
    // semi join is empty by definition anyway
    if (cnt == 0) return big.limit(0)
    val n = math.max(1L, expectedItems.getOrElse(cnt))
    val bloom = smallCk.stat.bloomFilter(col(smallKey), n, fpp)
    bloomFppWarning(bloom.expectedFpp(), fpp, n) match {
      case Some(msg) => log.warn(msg)
      case None => log.info(
        f"bloomPrunedSemiJoin: bloom over $n keys, realized fpp " +
          f"${bloom.expectedFpp()}%.4f (requested $fpp%.4f)")
    }
    // broadcast handle, not a Literal: a Literal filter rides the task
    // binary and re-deserializes PER TASK (the r15 q172 census OOM —
    // clamped filters here are ≤ 8 MiB, but the bc form is strictly
    // better and identical in result)
    val bytes = graft.functions.SketchGate.serializeBloom(bloom)
    val bcBloom = big.sparkSession.sparkContext.broadcast(bytes)
    big.filter(
        graft.functions.SketchGate.bloom_contains_bc(bcBloom, col(bigKey)))
      .join(smallCk.select(col(smallKey)), col(bigKey) === col(smallKey),
        "left_semi")
  }

  /** Pure sizing-guard policy for [[bloomPrunedSemiJoin]]: Some(warning)
    * when the realized saturation-based fpp exceeds 10× the requested
    * one (the underestimated-`expectedItems` signature), None when the
    * filter is healthy. Pure so the threshold is spec-testable without
    * capturing log output.
    */
  private[graft] def bloomFppWarning(realized: Double, requested: Double,
      expectedItems: Long): Option[String] =
    if (realized > math.min(1.0, requested * 10))
      Some(f"bloomPrunedSemiJoin: realized fpp $realized%.4f >> " +
        f"requested $requested%.4f — expectedItems=$expectedItems " +
        "underestimates the small side's distinct keys; the gate will " +
        "admit nearly everything (correct but no pruning). Pass a " +
        "larger expectedItems.")
    else None

  /** Salted equi-join for skewed keys (inner only): the skewed LEFT side
    * gets a random-ish salt in [0, buckets); the RIGHT side is replicated
    * `buckets` times — one hot key's rows spread over `buckets` reducer
    * partitions instead of one straggler.
    *
    * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`, on
    * by default here) covers most cases at runtime; explicit salting is
    * for the pathological keys AQE can't split (e.g. a single key bigger
    * than an executor). Salt hashes the whole left row plus its
    * position — no rand(), and byte-identical duplicate rows still
    * spread across buckets.
    */
  def saltedJoin(left: DataFrame, right: DataFrame,
      lk: String, rk: String, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // the row-content hash alone would give IDENTICAL duplicate rows of
    // the hot key the same salt (the dup-heavy case salting exists for);
    // mixing in the row's position spreads them across buckets. Position
    // is deterministic for a given partitioning, like zipWithIndex.
    val saltedL = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id() +:
        left.columns.toSeq.map(c => col(s"`$c`")): _*), lit(buckets)))
    val replicatedR = right
      .withColumn("__salt", explode(sequence(lit(0), lit(buckets - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    saltedL.join(replicatedR,
        saltedL(lk) === replicatedR(rk) &&
          saltedL("__salt") === replicatedR("__salt"), "inner")
      .drop("__salt")
  }

  /** Upsert (CDC merge): rows of `delta` replace same-keyed rows of
    * `target`; delta rows with new keys are appended. The canonical
    * anti-join + union plan — ONE shuffle on the key (the anti join),
    * no full-outer row widening; both inputs keep their schema
    * (unionByName, so column order may differ). Delta must be unique per
    * key (standard CDC contract — dedupe upstream with
    * [[Dedup.exact]] otherwise).
    */
  def upsert(target: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    target.join(delta, keys, "left_anti").unionByName(delta)
  }

  /** Snapshot diff (dataset versioning): classify every key across two
    * snapshots as added / removed / changed / same, comparing content via
    * the caller's `fingerprint` expression (evaluated on each side).
    * One full-outer join keyed on `keys` — only (key, fingerprint) rows
    * shuffle, payloads stay put; downstream aggregation of the `status`
    * column gives the change summary a data-versioning audit shows.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
      fingerprint: org.apache.spark.sql.Column): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    import org.apache.spark.sql.functions.{col, lit, not, when}
    // presence is tracked by its own marker, NOT by fingerprint nullness
    // (a nullable fingerprint would otherwise report a key present on
    // both sides as "added"); changed/same compares null-safely.
    val o = oldDf.select(
      keys.map(col) :+ fingerprint.as("__fo") :+ lit(true).as("__po"): _*)
    val n = newDf.select(
      keys.map(col) :+ fingerprint.as("__fn") :+ lit(true).as("__pn"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("status",
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(not(col("__fo") <=> col("__fn")), "changed")
          .otherwise("same"))
      .drop("__fo", "__fn", "__po", "__pn")
  }
}
