package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic per-group sampling for training-data curation. Spark's
  * `sample`/`sampleBy` are probabilistic per-partition and not reproducible
  * across engines or partition layouts; ranking by a content hash gives a
  * uniform-ish, engine-independent, re-runnable sample — the property a
  * 100 TB curation pipeline needs (re-running the job yields the same
  * sample; the oracle can reproduce it too).
  */
object Sampling {

  /** Keep the n rows with the smallest md5(idCol) per key group. */
  def deterministicSamplePerGroup(
      df: DataFrame, keys: Seq[String], idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Rebalance to a target class mix (the training-mix op: "make the
    * corpus 30% code, 50% web, 20% books"): downsample-only — the
    * largest total is kept that satisfies the exact mix, limited by the
    * scarcest class. Selection inside a class is the same deterministic
    * md5 ranking as deterministicSamplePerGroup, so reruns and the
    * oracle agree.
    *
    * Targets are INTEGER weights (web→5, code→3, books→2), not float
    * shares: quota boundaries then stay in BIGINT arithmetic
    * (total = min_c(n_c·W div w_c), quota_c = total·w_c div W) and are
    * bit-reproducible by any engine — float shares put floor() next to
    * a rounding boundary where engines legitimately disagree.
    *
    * Scale: one count aggregate (tiny — one row per class, collected to
    * compute quotas), then one window ranked by content hash per class
    * — the same single-exchange shape as any per-group top-n.
    *
    * @param weights class → positive integer weight; classes absent
    *        from `weights` are dropped.
    */
  def rebalanceToTarget(df: DataFrame, classCol: String, idCol: String,
      weights: Map[String, Int]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive integers")
    val targets = weights
    val wSum = weights.values.map(_.toLong).sum
    // cast to string + drop NULLs: weights keys are strings, and a
    // non-string class column would otherwise die in getString (NULL
    // class rows can never match a weight, same as the inner join below)
    val counts = df.filter(col(classCol).isNotNull)
      .groupBy(col(classCol).cast("string").as(classCol))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = targets.keySet.filterNot(counts.contains)
    require(missing.isEmpty, s"no rows for target classes: $missing")
    val total = targets.map { case (c, wc) => counts(c) * wSum / wc }.min
    val quotas = targets.map { case (c, wc) => c -> total * wc / wSum }
    val quotaDf = df.sparkSession
      .createDataFrame(quotas.toSeq).toDF(classCol, "__quota")
    val w = Window.partitionBy(col(classCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(quotaDf), Seq(classCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__quota"))
      .drop("__rk", "__quota")
  }

  /** Temperature (α-weighted) sampling: draw `total` rows with per-class
    * quotas ∝ n_c^α — the standard source/language-mixing step for
    * pre-training corpora (α<1 flattens the head, upweights the tail;
    * α=1 is proportional, α=0 uniform — cf. the multilingual sampling
    * exponent in public mC4/mT5 training setups). Downsample-only: a
    * class quota is capped at n_c (no replacement).
    *
    * Determinism contract (same reasoning as rebalanceToTarget):
    * quotas come from double arithmetic (n^α / Σ n^α), so a floor() at
    * an exact boundary could flip on a last-ulp difference between
    * engines; the `+ 1e-9` guard before floor absorbs ulp-level
    * divergence on BOTH sides. The shipped oracle query uses α=0.5,
    * where n^α = sqrt(n) is correctly-rounded IEEE on every engine.
    * Selection inside a class is the same md5-ranked window — rerun-
    * and engine-reproducible.
    *
    * Scale: one count aggregate (one row per class, collected — driver-
    * tiny), one broadcast of quotas, one per-class ranked window: a
    * single exchange on classCol, identical to any per-group top-n.
    */
  def temperatureSample(df: DataFrame, classCol: String, idCol: String,
      alpha: Double, total: Long): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    require(total > 0, s"total must be positive, got $total")
    val counts = df.filter(col(classCol).isNotNull)
      .groupBy(col(classCol).cast("string").as(classCol))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "no non-null class rows to sample")
    val weights = counts.map { case (c, n) =>
      c -> math.pow(n.toDouble, alpha) }
    // deterministic (sorted-key) summation order: the oracle's SUM may
    // add in any order; both land within the 1e-9 floor guard
    val wSum = weights.toSeq.sortBy(_._1).map(_._2).sum
    val quotas = weights.map { case (c, wc) =>
      c -> math.min(counts(c), math.floor(total * wc / wSum + 1e-9).toLong)
    }
    val quotaDf = df.sparkSession
      .createDataFrame(quotas.toSeq).toDF(classCol, "__quota")
    val w = Window.partitionBy(col(classCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.join(broadcast(quotaDf), Seq(classCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__quota"))
      .drop("__rk", "__quota")
  }

  /** Deterministic train/val/test assignment by content hash: adds
    * a `split` column mapping each row to the first split whose cumulative
    * fraction covers its md5 bucket.
    *
    * The bucket is the first 4 hex chars of md5(id) compared as a
    * STRING against precomputed hex thresholds (cumFrac · 16^4) — no
    * numeric hex conversion, so the assignment is bit-identical in any
    * engine that has md5 (the DuckDB oracle reproduces it verbatim).
    * Granularity is 1/65536 ≈ 0.0015%; fractions are rounded to that
    * grid, fine for split ratios.
    *
    * Scale: pure projection — no shuffle, no state; rows keep their
    * split across reruns, appends, and repartitioning, which is the
    * property that stops train/test leakage when the corpus grows
    * (a new drop of documents can't move an old row into train).
    */
  def hashSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.forall(_._2 > 0), "split fractions must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    // clamp to 0xffff: a cumulative fraction ≥ ~0.9999924 would round to
    // 0x10000, whose 5-char hex compares BELOW most 4-char buckets and
    // silently misassigns ~15/16 of rows; and a fraction too small to get
    // its own bucket must fail fast, not yield a silently-empty split
    val rounded = cum.init.map(f =>
      math.min(math.round(f * 65536).toInt, 65535))
    require(rounded == rounded.distinct.sorted && rounded.headOption.forall(_ > 0),
      s"split fractions too fine for the 1/65536 hash grid: $splits")
    val thresholds = rounded.map(t => f"$t%04x")
    val bucket = substring(md5(col(idCol).cast("string")), 1, 4)
    val head = when(bucket < lit(thresholds.head), lit(splits.head._1))
    val chained = splits.tail.init.zip(thresholds.tail).foldLeft(head) {
      case (acc, ((name, _), th)) => acc.when(bucket < lit(th), lit(name))
    }
    df.withColumn("split", chained.otherwise(lit(splits.last._1)))
  }
}
