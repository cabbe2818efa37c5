package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / splitting / quota ops for training-data
  * pipelines (SURVEY §2.8). All decisions are pure functions of a key
  * column + salt — no `rand()` — so
  *  - re-runs and retried tasks agree (at-least-once execution stays
  *    exactly-once in effect),
  *  - samples are stable under repartitioning and cluster size,
  *  - membership is reproducible by ANY engine with an md5 (the DuckDB
  *    oracle re-derives the exact row set).
  *
  * Everything is a scan-level filter or a per-group window — no extra
  * shuffle beyond what the semantics require (capPerGroup shuffles on the
  * group key, which is the minimum possible).
  */
object Sampling {

  /** The TopK id slot and the `_k` equi-join of the skew-safe operators
    * require a lossless cast to long; a string key would cast to NULL and
    * silently drop its rows, so misuse must fail loudly instead. */
  private def requireIntegralKey(df: DataFrame, keyCol: String,
                                 caller: String): Unit =
    df.schema(keyCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"$caller requires an integral keyCol (got $keyCol: ${other.sql}); " +
          "use the window twin for non-numeric keys")
    }

  /** Engine-portable uniform hash in [0, 1): first 8 md5 hex digits of
    * (key ++ salt) as a 32-bit integer, scaled. ~1e-9 resolution — plenty
    * for sampling decisions. The key is hashed via its STRING form — use
    * string or integer keys; floating-point keys render differently across
    * engines and would break the oracle-reproducibility contract. */
  def unitHash(key: Column, salt: String = ""): Column =
    conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long").cast("double") / 4294967296.0

  /** Keep rows whose key hashes below `fraction` — a deterministic
    * Bernoulli sample that is consistent across tables sharing the key
    * (sample lineitems and their orders with the same key column and the
    * join is closed). */
  def sampleByHash(df: DataFrame, keyCol: String, fraction: Double,
                   salt: String = ""): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of range: $fraction")
    df.where(unitHash(col(keyCol), salt) < fraction)
  }

  /** Weighted PRIORITY sampling (Sequential Poisson, Ohlsson 1998 — the
    * priority-sampling family of Duffield/Lund/Thorup 2007): keep the `k`
    * rows with the smallest priority h(key)/w, giving inclusion
    * probability asymptotically ∝ w — the production weighted
    * without-replacement sample (mix documents ∝ a quality or token
    * weight) at any scale, because selection is a bounded TopK
    * (per-partition heaps via TakeOrdered), never a full sort.
    *
    * Deterministic AND engine-portable: h = [[unitHash]] (a 32-bit md5
    * value scaled by 2^32 — both steps exact in a double), w a positive
    * integral column, and the single priority division is one
    * correctly-rounded IEEE op on exact inputs — so the kept set, its
    * order, and the priorities themselves restate bit-identically in an
    * external engine. Ties break by key. Rows with w ≤ 0 or null weight
    * are excluded (a zero weight means "never sample"; negative is a
    * caller bug surfaced by the exclusion, not a crash).
    *
    * Returns (keyCol, weightCol, priority, rank), rank 1..k by ascending
    * priority. */
  def weightedPrioritySample(df: DataFrame, keyCol: String,
                             weightCol: String, k: Int,
                             salt: String = "wps"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val p = (unitHash(col(keyCol), salt) / col(weightCol)).as("priority")
    val kept = df
      .where(col(weightCol).isNotNull && col(weightCol) >= 1)
      .select(col(keyCol), col(weightCol), p)
      .orderBy(col("priority"), col(keyCol))
      .limit(k) // TakeOrderedAndProject: bounded heap, no global sort
    // rank over the ≤ k survivors — a k-row single-partition window, not
    // a data-sized one
    kept.withColumn("rank", row_number().over(
      Window.orderBy(col("priority"), col(keyCol))))
  }

  /** Add a split column ("test" below `testFraction`, else "train") —
    * the leakage-free alternative to random splits: membership depends only
    * on the key, so regenerating the dataset never migrates rows. Refuses an
    * input that already carries `outCol`: silently overwriting an existing
    * split assignment is exactly the leakage this function exists to
    * prevent. */
  def withSplit(df: DataFrame, keyCol: String, testFraction: Double,
                salt: String = "", outCol: String = "split"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"withSplit: input already has a '$outCol' column — refusing to " +
        "overwrite an existing split assignment (pass outCol to rename)")
    df.withColumn(outCol,
      when(unitHash(col(keyCol), salt) < testFraction, "test")
        .otherwise("train"))
  }

  /** Per-GROUP weighted priority sampling — [[weightedPrioritySample]]
    * with a quota per group, the mixture-construction form (k documents
    * per source, inclusion ∝ weight within each source). Selection is the
    * bounded-heap TopK keyed on the group — map-side partials cap the
    * shuffle at k rows per (partition, group), never the corpus — with
    * score = NEGATED priority, so the heap's (score desc, id asc) order
    * is exactly (priority asc, key asc); negation of a positive double is
    * exact, keeping the portability contract of the global operator.
    * Integral key required (the heap's id slot). Returns
    * (groupCol, rank, keyCol, priority). */
  def weightedPrioritySampleByGroup(df: DataFrame, groupCol: String,
                                    keyCol: String, weightCol: String,
                                    k: Int, salt: String = "wps"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    requireIntegralKey(df, keyCol, "weightedPrioritySampleByGroup")
    val scored = df
      .where(col(weightCol).isNotNull && col(weightCol) >= 1)
      .select(col(groupCol), col(keyCol),
        (-(unitHash(col(keyCol), salt) / col(weightCol))).as("_negp"))
    TopK.topKPerKey(scored, groupCol, "_negp", keyCol, k)
      .toDF(groupCol, "rank", keyCol, "_negp")
      .select(col(groupCol), col("rank"), col(keyCol),
        (-col("_negp")).as("priority"))
  }

  /** Leakage-free K-FOLD assignment — the cross-validation sibling of
    * [[withSplit]]: fold = ⌊unitHash · k⌋, a pure function of (key, salt),
    * so the k folds are disjoint, cover every row, stay stable when the
    * dataset regenerates (no row ever migrates folds), and reproduce in
    * any engine with an md5. The hash is exact in a double and u·k is one
    * correctly-rounded multiply, so the assignment itself is portable.
    * Zero shuffle: a scan-level projection. */
  def withFolds(df: DataFrame, keyCol: String, k: Int,
                salt: String = "", outCol: String = "fold"): DataFrame = {
    require(k >= 2, s"withFolds needs k >= 2: $k")
    require(!df.columns.contains(outCol),
      s"withFolds: input already has a '$outCol' column — refusing to " +
        "overwrite an existing fold assignment (pass outCol to rename)")
    df.withColumn(outCol,
      floor(unitHash(col(keyCol), salt) * k).cast("int"))
  }

  /** Deterministically shuffle a corpus into a pseudo-random global order —
    * the pre-writer step that decorrelates adjacent documents (source runs,
    * crawl order, curriculum artifacts) before sequence packing, so training
    * batches don't see correlated neighbors. Order = ascending portable
    * hash of (key, salt): a pure function of the key, so re-runs, retried
    * stages, and external engines agree on the EXACT permutation — unlike
    * `orderBy(rand())`, which is neither retry-stable nor reproducible, and
    * whose non-determinism under task retry can silently duplicate or drop
    * rows in a written dataset. Different salts give independent epochs'
    * orders. The emitted `shuffle_key` column is the sort key itself, so
    * downstream writers can verify or re-establish the order.
    *
    * Scale shape: one range-partitioning exchange + per-partition sort
    * (Spark's distributed orderBy) — the minimum a global reorder can pay;
    * the md5 keys are uniformly distributed, so the range partitions are
    * balanced by construction regardless of input skew. */
  def deterministicShuffle(df: DataFrame, keyCol: String,
                           salt: String = ""): DataFrame = {
    require(!df.columns.contains("shuffle_key"),
      "deterministicShuffle: input already has a 'shuffle_key' column")
    df.withColumn("shuffle_key",
        md5(concat(col(keyCol).cast("string"), lit(":shuffle:" + salt))))
      // tie-break on the key so duplicate-key rows also order stably
      .orderBy(col("shuffle_key"), col(keyCol))
  }

  /** Similarity-aware document ordering — the in-context-pretraining
    * layout (Shi et al., ICLR 2024): related documents end up ADJACENT in
    * the training stream, so a packed context window carries coherent
    * cross-document signal instead of random concatenation. Within each
    * shard, documents are visited along a greedy nearest-neighbor chain
    * over their embeddings ([[graft.ext.expressions.GreedyChain]]: start
    * at the smallest id, hop to the most-cosine-similar unvisited vector;
    * ties to the smaller id). Returns (shardCol, seq_pos, idCol) — feed
    * `seq_pos` as the ORDER column into [[packSequencesOrderedText]] for
    * similarity-ordered packing (the hash-ordered packers would
    * re-scatter exactly the adjacency the chain built).
    *
    * Scale shape: chaining is shard-LOCAL by design — the paper's
    * traveling-salesman-style global order does not distribute, and hash
    * shards ([[withShard]]) are how a 100 TB corpus is laid out anyway.
    * One exchange on the shard key; per-shard state is the collected
    * (id, vector) arrays — s·d·8 bytes for shard size s, the same
    * bounded-group contract as [[capPerGroup]] — and the O(s²·d) chain
    * runs inside the native kernel, once per shard, not per row. */
  def icpOrder(df: DataFrame, idCol: String, vecCol: String,
               shardCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge
    requireIntegralKey(df, idCol, "icpOrder")
    val items = df.groupBy(col(shardCol))
      .agg(sort_array(collect_list(struct(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v")))).as("items"))
      .select(col(shardCol),
        transform(col("items"), x => x.getField("id")).as("ids"),
        transform(col("items"), x => x.getField("v")).as("vecs"))
    val chain = GraftColumnBridge.column(
      graft.ext.expressions.GreedyChainExpr(
        GraftColumnBridge.expression(col("ids")),
        GraftColumnBridge.expression(col("vecs"))))
    // the kernel yields NULL for a shard containing any null id/embedding/
    // element or ragged dimensions; a bare posexplode would then silently
    // DROP that whole shard from the training order — fail loudly instead
    // (the module's stance: silent row loss is never acceptable)
    val checked = when(chain.isNull, raise_error(concat(
        lit("icpOrder: null or ragged embedding in shard "),
        col(shardCol).cast("string")))
      .cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)))
      .otherwise(chain)
    items.select(col(shardCol), checked.as("chain"))
      .select(col(shardCol), posexplode(col("chain")))
      .toDF(shardCol, "seq_pos", idCol)
  }

  /** Keep at most `n` rows per group, chosen by hash rank (deterministic
    * "reservoir"): the standard cap-per-domain / data-mixing primitive.
    * One shuffle on the group key; rank ties broken by the key itself, so
    * the kept set is total-ordered and reproducible.
    *
    * The window must sort EVERY row of a group in one partition — fine for
    * balanced groups, a straggler when one domain dominates the corpus; use
    * [[capPerGroupSkewSafe]] there. */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String, n: Int,
                  salt: String = ""): DataFrame = {
    require(n > 0, s"cap must be positive: $n")
    require(!df.columns.contains("_rk"),
      "capPerGroup: input already has a '_rk' column — it would be clobbered")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(unitHash(col(keyCol), salt).asc, col(keyCol).asc)
    df.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= n)
      .drop("_rk")
  }

  /** [[capPerGroup]] for skewed group distributions: the kept keys come from
    * the bounded-heap [[TopK]] aggregator (score = negated hash, so TopK's
    * score-desc/id-asc order IS hash-asc/key-asc), whose map-side partial
    * aggregation caps each partition's contribution to a group at `n` rows
    * BEFORE the exchange — a domain with half the corpus costs the reducer
    * O(partitions × n), not O(group). Kept rows are then recovered with a
    * semi-join on (group, key). Identical kept set to [[capPerGroup]]
    * (asserted in ExtSpec); requires a long-typed unique `keyCol`. */
  def capPerGroupSkewSafe(df: DataFrame, groupCol: String, keyCol: String,
                          n: Int, salt: String = ""): DataFrame = {
    require(n > 0, s"cap must be positive: $n")
    requireIntegralKey(df, keyCol, "capPerGroupSkewSafe")
    val scored = df.select(col(groupCol),
      (-unitHash(col(keyCol), salt)).as("_score"), col(keyCol).cast("long").as("_id"))
    val kept = TopK.topKPerKey(scored, groupCol, "_score", "_id", n)
      .select(col(groupCol).as("_g"), col("id").as("_k"))
    // null-safe on the group (a NULL domain is still a domain and must be
    // capped, matching the window variant); keyCol itself must be non-null
    df.join(kept, df(groupCol) <=> col("_g") && df(keyCol) === col("_k"),
      "left_semi")
  }

  /** Per-group top-FRACTION selection, window form: keep each group's best
    * `ceil(frac * n)` rows by (`scoreCol` desc, `keyCol` asc). Unlike the
    * Bernoulli [[sampleByGroupHash]] (binomial per-group counts) this is
    * EXACT per group — the draw an eval split or a per-source quality gate
    * needs when "the top 20 % of every source" must mean exactly that.
    * The per-group rank window serializes each group through one task —
    * fine for bounded groups; route heavy-tailed group distributions to
    * [[topFractionPerGroupSkewSafe]]. */
  def topFractionPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                          scoreCol: Column, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"fraction out of range: $frac")
    require(!df.columns.contains("_rk") && !df.columns.contains("_n"),
      "topFractionPerGroup: input already has a '_rk'/'_n' column")
    // NULL scores are excluded up front (they can never be in a top
    // fraction, and the skew-safe twin's TopK drops them by construction —
    // filtering here keeps the two forms row-identical) and the fraction
    // is of the SCORED rows
    val scored = df.where(scoreCol.isNotNull)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(scoreCol.desc, col(keyCol).asc)
    scored.withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .where(col("_rk") <= ceil(col("_n") * lit(frac)))
      .drop("_rk", "_n")
  }

  /** [[topFractionPerGroup]] for skewed group distributions — the
    * [[capPerGroupSkewSafe]] move with per-group caps: group sizes are
    * aggregated first (`cap = ceil(frac * n)`, broadcast), the bounded-heap
    * [[TopK]] keeps each group's best max-cap rows with map-side partial
    * aggregation (each partition contributes ≤ cap rows to the exchange),
    * and the per-group cap is applied to the ranked survivors. Identical
    * kept set to the window form (ExtSpec). Heap memory is O(frac ×
    * largest group) per reducer — intended for the small fractions quality
    * gates and eval draws use; at frac near 1 the window twin's full sort
    * costs the same and needs no heap. Requires an integral unique
    * `keyCol` (TopK keys ids as long).
    *
    * Score precision bound: the heap orders `scoreCol` AS A DOUBLE, so
    * integral scores are only ordered faithfully up to ±2^53 — distinct
    * wider longs can collapse or reorder, silently diverging from the
    * window twin (which sorts the original type). Scores beyond that range
    * (and NaN, which the heap's comparator would misplace) are rejected
    * rather than misranked. */
  def topFractionPerGroupSkewSafe(df: DataFrame, groupCol: String,
                                  keyCol: String, scoreCol: Column,
                                  frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"fraction out of range: $frac")
    requireIntegralKey(df, keyCol, "topFractionPerGroupSkewSafe")
    // the fraction is of the SCORED rows (matching the window twin, which
    // filters NULL scores before counting) — and the caps frame is
    // collected ONCE: it is broadcast-small by construction, the driver
    // copy yields maxCap for free, and re-aggregating df inside the join
    // would double-scan the input
    val withScore = df.where(scoreCol.isNotNull)
    // score bounds ride the same scan as the caps: the double-precision
    // guard costs no extra pass
    val aggd = withScore.groupBy(col(groupCol))
      .agg(ceil(count(lit(1)) * lit(frac)).cast("long").as("_cap"),
        min(scoreCol.cast("double")).as("_smin"),
        max(scoreCol.cast("double")).as("_smax"))
    val aggRows = aggd.collect()
    if (aggRows.isEmpty) return df.where(lit(false)) // empty input, typed empty out
    val widerThanDouble =
      withScore.select(scoreCol.as("_s")).schema.head.dataType match {
        case org.apache.spark.sql.types.LongType => true
        case d: org.apache.spark.sql.types.DecimalType => d.precision - d.scale > 15
        case _ => false
      }
    val twoTo53 = 9007199254740992.0
    aggRows.foreach { r =>
      require(!r.getDouble(3).isNaN,
        "topFractionPerGroupSkewSafe: NaN scores cannot be ranked")
      if (widerThanDouble)
        require(math.abs(r.getDouble(2)) < twoTo53 &&
            math.abs(r.getDouble(3)) < twoTo53,
          "topFractionPerGroupSkewSafe: integral scores at or beyond ±2^53 " +
            "lose ordering as doubles — rescale or rank on a narrower score")
    }
    val maxCap = aggRows.map(_.getLong(1)).max
    require(maxCap <= Int.MaxValue, s"cap $maxCap exceeds the heap bound")
    val capsSchema = org.apache.spark.sql.types.StructType(aggd.schema.take(2))
    val capRows = aggRows.map(r =>
      org.apache.spark.sql.Row(r.get(0), r.getLong(1)))
    val capsDf = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(capRows: _*), capsSchema)
    val scored = withScore.select(col(groupCol),
      scoreCol.cast("double").as("_score"), col(keyCol).cast("long").as("_id"))
    val ranked = TopK.topKPerKey(scored, groupCol, "_score", "_id", maxCap.toInt)
    // null-safe on the group (a NULL group is still a group, as elsewhere)
    val kept = ranked
      .join(broadcast(capsDf.withColumnRenamed(groupCol, "_cg")),
        ranked(groupCol) <=> col("_cg"))
      .where(col("rank") <= col("_cap"))
      .select(ranked(groupCol).as("_g"), col("id").as("_k"))
    df.join(kept, df(groupCol) <=> col("_g") && df(keyCol) === col("_k"),
      "left_semi")
  }

  /** Exact proportional stratified sample: `ceil(frac * n)` rows of EVERY
    * stratum, chosen by the deterministic unit-hash order — membership is a
    * pure function of (key, salt), so re-runs, retries, and external
    * engines agree on the exact row set (unlike `sampleBy`, whose per-
    * stratum counts are binomial). Sugar over the skew-safe top-fraction
    * with score = negated hash (TopK's score-desc/id-asc IS hash-asc/key-
    * asc, the [[capPerGroupSkewSafe]] ordering contract). */
  def stratifiedSample(df: DataFrame, strataCol: String, keyCol: String,
                       frac: Double, salt: String = ""): DataFrame =
    topFractionPerGroupSkewSafe(df, strataCol, keyCol,
      -unitHash(col(keyCol), salt), frac)

  /** CCNet-style head/middle/tail bucketing: label every row with its
    * source-RELATIVE quality tercile — `head` = each group's best
    * `ceil(headFrac·n)` rows by (`scoreCol` desc, `keyCol` asc), `middle`
    * = the next rows up to `ceil(midFrac·n)`, `tail` = the rest. The
    * canonical use is per-source perplexity bucketing before sampling
    * (keep head+middle, downweight tail) — a source-ABSOLUTE threshold
    * would empty low-resource sources, which is exactly what the relative
    * bucket avoids. NULL scores are excluded (they cannot be ranked),
    * matching the top-fraction twins.
    *
    * Built on [[topFractionPerGroupSkewSafe]] (membership at both
    * fractions, then two id-keyed joins): exact `ceil` counts per group,
    * deterministic ties, bounded-heap map-side partials instead of a
    * per-group sort window — a 10-TB source never serializes through one
    * task. The joins exchange id-only rows (fixed width, uniform keys).
    * `skewSafe = false` routes to the window twin (identical result,
    * simpler plan) for bounded group sizes. */
  def qualityBuckets(df: DataFrame, groupCol: String, keyCol: String,
                     scoreCol: Column, headFrac: Double = 1.0 / 3,
                     midFrac: Double = 2.0 / 3,
                     skewSafe: Boolean = true): DataFrame = {
    require(headFrac > 0 && midFrac > headFrac && midFrac <= 1,
      s"need 0 < headFrac < midFrac <= 1, got ($headFrac, $midFrac)")
    val pick: Double => DataFrame =
      if (skewSafe) topFractionPerGroupSkewSafe(df, groupCol, keyCol, scoreCol, _)
      else topFractionPerGroup(df, groupCol, keyCol, scoreCol, _)
    val head = pick(headFrac)
      .select(col(keyCol).as("_bk_h"), lit(true).as("_in_h"))
    val headMid = pick(midFrac)
      .select(col(keyCol).as("_bk_hm"), lit(true).as("_in_hm"))
    df.where(scoreCol.isNotNull)
      .join(head, col(keyCol) === col("_bk_h"), "left")
      .join(headMid, col(keyCol) === col("_bk_hm"), "left")
      .withColumn("bucket",
        when(col("_in_h"), "head")
          .when(col("_in_hm"), "middle")
          .otherwise("tail"))
      .drop("_bk_h", "_in_h", "_bk_hm", "_in_hm")
  }

  /** Per-group Bernoulli fractions — the mixture-weighting primitive: keep
    * each row with its OWN group's probability (e.g. web 0.1, books 1.0,
    * code 0.5). A pure scan-level filter, no shuffle at all: the fractions
    * ride along as a literal CASE, membership is `unitHash(key) <
    * fraction(group)`, so the kept set is deterministic, retry-stable, and
    * nests across fraction changes (raising a group's weight only ADDS
    * rows — the hash threshold grows, nothing previously kept is lost).
    * Groups absent from the map keep `defaultFraction` (0 = drop). */
  /** Temperature-flattened mixture sampling — the T5/mT5 multilingual
    * rebalancing rule: target share q_g ∝ n_g^α with α < 1 upweighting
    * small groups relative to large ones, realized by downsampling only
    * (no upsampling): the group that flattening favors most keeps
    * everything and every other group keeps the Bernoulli fraction
    * f_g = (n_min / n_g)^(1−α) (the closed form of "largest total such
    * that no group exceeds 1"; α = 1 is the identity, α = 0 equalizes
    * counts to the smallest group).
    *
    * α is restricted to {0, ½, 1}: these make f_g a single division of
    * correctly-rounded IEEE ops (√ is correctly rounded; a general α needs
    * `pow`, which differs across libms — the same reason BM25 avoids `ln`)
    * so the kept SET is engine-portable and oracle-checkable.
    *
    * Scale shape: one aggregation collects the per-group counts (bounded
    * by group cardinality — the centroid-broadcast contract), the
    * fractions ride back as a literal CASE inside [[sampleByGroupHash]],
    * and the sample is a zero-shuffle scan filter. */
  def sampleByTemperature(df: DataFrame, groupCol: String, keyCol: String,
                          alpha: Double = 0.5,
                          salt: String = ""): DataFrame = {
    require(Set(0.0, 0.5, 1.0).contains(alpha),
      s"alpha must be 0, 0.5, or 1 for engine-portable fractions: $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (String.valueOf(r.get(0)), r.getLong(1)))
    if (counts.isEmpty) df
    else {
      val nMin = counts.map(_._2).min
      val fractions = counts.map { case (g, n) =>
        g -> (alpha match {
          case 1.0 => 1.0
          case 0.5 => math.sqrt(nMin.toDouble) / math.sqrt(n.toDouble)
          case _ => nMin.toDouble / n.toDouble
        })
      }.toMap
      sampleByGroupHash(df, groupCol, keyCol, fractions, salt = salt)
    }
  }

  def sampleByGroupHash(df: DataFrame, groupCol: String, keyCol: String,
                        fractions: Map[String, Double],
                        defaultFraction: Double = 0.0,
                        salt: String = ""): DataFrame = {
    (defaultFraction +: fractions.values.toSeq).foreach(f =>
      require(f >= 0 && f <= 1, s"fraction out of range: $f"))
    val frac = fractions.foldLeft(lit(defaultFraction)) { case (acc, (g, f)) =>
      when(col(groupCol) === g, lit(f)).otherwise(acc)
    }
    df.where(unitHash(col(keyCol), salt) < frac)
  }

  /** Keep rows per group until a TOKEN budget is exhausted (training-data
    * mixing caps token counts, not document counts): rows are taken in
    * hash-rank order (deterministic, same order contract as [[capPerGroup]])
    * while the RUNNING total of `tokenCol` stays within `budget` — the
    * first row that crosses the budget is the last one kept, so every group
    * with any rows keeps at least one (a single over-budget document cannot
    * deadlock its domain). One shuffle on the group key (the window's
    * partition), which is the minimum the cumulative semantics allow; for a
    * corpus-dominating group, cap row COUNT first with
    * [[capPerGroupSkewSafe]] and budget within the survivors. */
  def capPerGroupTokens(df: DataFrame, groupCol: String, keyCol: String,
                        tokenCol: String, budget: Long,
                        salt: String = ""): DataFrame = {
    require(budget > 0, s"token budget must be positive: $budget")
    require(!df.columns.contains("_cum"),
      "capPerGroupTokens: input already has a '_cum' column — it would be clobbered")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(unitHash(col(keyCol), salt).asc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(tokenCol).cast("long")).over(w))
      .where(col("_cum") - col(tokenCol).cast("long") < budget)
      .drop("_cum")
  }

  /** Sequence packing for training: assign each document a `seq_no` such
    * that concatenating a group's documents in hash-rank order fills
    * `seqTokens`-sized context windows — seq_no = the window its STARTING
    * offset falls in (the greedy concat-and-chunk assignment; a document
    * straddling a boundary belongs to the sequence it starts in). Same
    * deterministic order contract as [[capPerGroupTokens]]; one shuffle on
    * the group key. The offset arithmetic is exact in a double up to 2^53
    * tokens PER GROUP — far past any real per-domain corpus; the group
    * split is also what keeps the window scalable. */
  def packIntoSequences(df: DataFrame, groupCol: String, keyCol: String,
                        tokenCol: String, seqTokens: Long,
                        salt: String = "", outCol: String = "seq_no"): DataFrame = {
    require(seqTokens > 0, s"sequence token size must be positive: $seqTokens")
    Seq("_cum", outCol).foreach(c => require(!df.columns.contains(c),
      s"packIntoSequences: input already has a '$c' column — it would be clobbered"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(unitHash(col(keyCol), salt).asc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(tokenCol).cast("long")).over(w))
      .withColumn(outCol,
        floor((col("_cum") - col(tokenCol).cast("long")) / lit(seqTokens))
          .cast("long"))
      .drop("_cum")
  }

  /** Materialized sequence packing: each (group, seq_no) of
    * [[packIntoSequences]] concatenated into its actual training sequence
    * text, documents in the same deterministic hash-rank order that
    * assigned them. Output: (group, seq_no, seq_text, n_docs, n_tokens).
    * One (group, seq_no)-keyed aggregation on top of the assignment window;
    * the collected list is bounded by a sequence's own documents
    * (≈ seqTokens tokens by construction), never by the group. */
  def packSequencesText(df: DataFrame, groupCol: String, keyCol: String,
                        tokenCol: String, textCol: String, seqTokens: Long,
                        salt: String = ""): DataFrame = {
    require(seqTokens > 0, s"sequence token size must be positive: $seqTokens")
    Seq("_h", "_cum", "seq_no").foreach(c => require(!df.columns.contains(c),
      s"packSequencesText: input already has a '$c' column — it would be clobbered"))
    // same assignment arithmetic as packIntoSequences (the ExtSpec
    // consistency test pins the equivalence), with the unit hash computed
    // ONCE and reused for both the window sort and the in-sequence order
    packTextCore(df.withColumn("_h", unitHash(col(keyCol), salt)),
      groupCol, keyCol, "_h", tokenCol, textCol, seqTokens)
  }

  /** [[packSequencesText]] with a caller-supplied ORDER column instead of
    * the deterministic hash shuffle — the packing arm of the
    * in-context-pretraining layout: feed [[icpOrder]]'s `seq_pos` and
    * every packed window holds a CONTIGUOUS run of the similarity chain
    * (hash order would re-scatter exactly the adjacency the chain built).
    * Same assignment arithmetic and bounded per-(group, seq_no)
    * aggregation (one shared core — the twin laws cannot drift);
    * `orderCol` should be unique within its group (seq_pos is) — the key
    * tie-break keeps duplicates deterministic regardless. */
  def packSequencesOrderedText(df: DataFrame, groupCol: String,
                               keyCol: String, orderCol: String,
                               tokenCol: String, textCol: String,
                               seqTokens: Long): DataFrame = {
    require(seqTokens > 0, s"sequence token size must be positive: $seqTokens")
    Seq("_cum", "seq_no").foreach(c => require(!df.columns.contains(c),
      s"packSequencesOrderedText: input already has a '$c' column — it would be clobbered"))
    packTextCore(df, groupCol, keyCol, orderCol, tokenCol, textCol, seqTokens)
  }

  /** Per-document BOUNDARY OFFSETS of the packed windows — what the
    * trainer actually needs next to the window text: loss masks and
    * cross-document attention barriers are built from "where does each
    * document start and end inside its window". Same assignment law as
    * the pack operators (a doc belongs to the window its start falls in);
    * `start_tok`/`end_tok` are window-relative token offsets, and a doc
    * whose tail SPANS the window boundary honestly reports
    * `end_tok > seqTokens` (the mask builder must know about the
    * spill-over — clamping here would silently corrupt the mask).
    * Returns (groupCol, seq_no, pos_in_seq, keyCol, n_tok, start_tok,
    * end_tok). Order = caller's column (feed [[icpOrder]]'s seq_pos for
    * the similarity-ordered layout); per-group window + one bounded
    * per-(group, seq_no) rank, nothing else. */
  def packOffsetsOrdered(df: DataFrame, groupCol: String, keyCol: String,
                         orderCol: String, tokenCol: String,
                         seqTokens: Long): DataFrame = {
    require(seqTokens > 0, s"sequence token size must be positive: $seqTokens")
    // no orderCol exemption: an orderCol named n_tok/seq_no/… would itself
    // be clobbered by the withColumn chain below, and the `w`/`inSeq`
    // windows would then silently resolve against different columns
    Seq("_cum", "seq_no", "n_tok", "start_tok", "end_tok", "pos_in_seq")
      .foreach(c => require(!df.columns.contains(c),
        s"packOffsetsOrdered: input already has a '$c' column — it would be clobbered" +
          (if (c == orderCol) s" (including orderCol '$orderCol' itself)" else "")))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).asc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inSeq = Window.partitionBy(col(groupCol), col("seq_no"))
      .orderBy(col(orderCol).asc, col(keyCol).asc)
    df.withColumn("n_tok", col(tokenCol).cast("long"))
      .withColumn("_cum", sum(col("n_tok")).over(w))
      .withColumn("seq_no",
        floor((col("_cum") - col("n_tok")) / lit(seqTokens)).cast("long"))
      .withColumn("start_tok",
        col("_cum") - col("n_tok") - col("seq_no") * lit(seqTokens))
      .withColumn("end_tok", col("_cum") - col("seq_no") * lit(seqTokens))
      .withColumn("pos_in_seq", row_number().over(inSeq))
      .select(col(groupCol), col("seq_no"), col("pos_in_seq"), col(keyCol),
        col("n_tok"), col("start_tok"), col("end_tok"))
  }

  /** The one packing law behind [[packSequencesText]] (order = the unit
    * hash) and [[packSequencesOrderedText]] (order = caller's column):
    * running token total in (order, key) order, window = (cum − tokens) /
    * seqTokens floored, window text concatenated in the same order. */
  private def packTextCore(df: DataFrame, groupCol: String, keyCol: String,
                           orderCol: String, tokenCol: String,
                           textCol: String, seqTokens: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).asc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum", sum(col(tokenCol).cast("long")).over(w))
      .withColumn("seq_no",
        floor((col("_cum") - col(tokenCol).cast("long")) / lit(seqTokens))
          .cast("long"))
      .groupBy(col(groupCol), col("seq_no"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(
            col(orderCol).as("o"),
            col(keyCol).as("k"),
            col(textCol).as("t")))),
          s => s.getField("t"))).as("seq_text"),
        count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("n_tokens"))
  }

  /** Leakage-safe train/test split: the split decision is keyed on the
    * document's near-duplicate CLUSTER representative, not the document
    * itself, so two near-duplicates can never straddle the boundary — the
    * classic eval-contamination hole of per-document splits (a test doc
    * whose near-twin sits in train leaks the answer). `clusters` is the
    * (id, rep) labeling from [[Dedup.duplicateClusters]]; documents
    * absent from it (the un-duplicated majority) are their own singleton
    * cluster, so the split fraction still governs the whole corpus. Adds `rep` (the effective
    * cluster key) and `outCol`.
    *
    * Scale shape: one equi-join against the cluster labeling — which holds
    * ONLY docs that belong to some duplicate pair, typically a small
    * fraction of the corpus, so AQE broadcasts it at most real scales —
    * then a scan-level hash projection. No other shuffle. */
  def splitByCluster(df: DataFrame, keyCol: String, clusters: DataFrame,
                     testFraction: Double, salt: String = "",
                     outCol: String = "split"): DataFrame = {
    require(testFraction >= 0 && testFraction <= 1,
      s"fraction out of range: $testFraction")
    Seq("rep", outCol).foreach(c => require(!df.columns.contains(c),
      s"splitByCluster: input already has a '$c' column — it would be clobbered"))
    val lab = clusters.select(col("id").as(keyCol), col("rep").as("_rep"))
    df.join(lab, Seq(keyCol), "left")
      .withColumn("rep", coalesce(col("_rep"), col(keyCol).cast("long")))
      .drop("_rep")
      .withColumn(outCol,
        when(unitHash(col("rep"), salt) < testFraction, "test")
          .otherwise("train"))
  }

  /** Fractional-epoch materialization — the "data recipe" step that
    * repeats high-value sources and thins low-value ones in ONE pass:
    * a group with epoch weight e keeps floor(e) copies of every row plus
    * one more for the deterministic hash-fraction (e - floor(e)) of its
    * rows, so the expected multiplicity is exactly e (e = 2.5 → every row
    * 2×, half the rows 3×; e = 0.3 → a 30% subsample; e = 1 → identity).
    * Copies carry `copy_no` (1-based) so downstream shuffle/packing can
    * decorrelate them (feed `copy_no` into the shuffle salt). Which rows
    * get the extra copy is a pure (key, salt) hash — re-runs, retried
    * tasks, and external engines materialize the identical multiset.
    *
    * Scale shape: a scan-level `explode(sequence())` projection — zero
    * shuffle, output size = Σ e·|group| by construction. */
  def epochMaterialize(df: DataFrame, groupCol: String, keyCol: String,
                       epochs: Map[String, Double],
                       defaultEpochs: Double = 1.0,
                       salt: String = "",
                       outCol: String = "copy_no"): DataFrame = {
    (defaultEpochs +: epochs.values.toSeq).foreach(e =>
      require(e >= 0 && e <= 100, s"epoch weight out of range: $e"))
    require(!df.columns.contains(outCol),
      s"epochMaterialize: input already has a '$outCol' column — it would be clobbered")
    val e = epochs.foldLeft(lit(defaultEpochs)) { case (acc, (g, w)) =>
      when(col(groupCol) === g, lit(w)).otherwise(acc)
    }
    val copies = (floor(e) +
      when(unitHash(col(keyCol), salt) < e - floor(e), 1).otherwise(0))
      .cast("int")
    // sequence(1, 0) DESCENDS in Spark (step defaults to -1), so the
    // zero-copy case must map to an empty array for explode to drop the row
    df.withColumn(outCol, explode(
      when(copies >= 1, sequence(lit(1), copies))
        .otherwise(array().cast("array<int>"))))
  }

  /** Deterministic shard assignment: shard = ⌊hash(key, salt)·n⌋ — a pure
    * function of the key, so a re-run, a retried stage, or another engine
    * lands every document in the SAME shard (contrast `repartition(n)`,
    * whose round-robin is partition-layout-dependent). The md5 hash makes
    * the shards uniform regardless of key distribution. */
  def withShard(df: DataFrame, keyCol: String, nShards: Int,
                salt: String = "", outCol: String = "shard_id"): DataFrame = {
    require(nShards > 0, s"shard count must be positive: $nShards")
    require(!df.columns.contains(outCol),
      s"withShard: input already has a '$outCol' column — it would be clobbered")
    df.withColumn(outCol,
      floor(unitHash(col(keyCol), salt) * nShards).cast("int"))
  }

  /** Shard MANIFEST — the artifact a trainer validates a delivered dataset
    * against: one row per shard with the document count, token volume, and
    * an order-independent integer checksum (the SUM of each member's
    * 32-bit md5 key prefix — commutative, so partition order, retries, and
    * engine never change it; a single missing, duplicated, or swapped
    * document does). Output: (shard_id, n_docs, n_tokens, checksum).
    *
    * Scale shape: one shard-keyed aggregation over a scan-level
    * projection — map-side partials collapse each partition to ≤ nShards
    * rows before the one small exchange. */
  def shardManifest(df: DataFrame, keyCol: String, tokenCol: String,
                    nShards: Int, salt: String = ""): DataFrame = {
    val keyHash = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    withShard(df, keyCol, nShards, salt)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol).cast("long")).as("n_tokens"),
        sum(keyHash).as("checksum"))
  }

  /** LENGTH-BUCKETED BATCHING — the dynamic-batching step a trainer runs
    * to bound padding waste: a batch pads every sequence to its longest
    * member, so batching a 10-token doc with a 1000-token doc wastes 99%
    * of the compute; grouping into length buckets first caps the
    * in-batch length spread at `bucketWidth`. Assignment is deterministic
    * (rank by id within bucket, `batchSize` per batch — re-runs and
    * engines agree), and the output is the padding LEDGER per batch:
    * n_seqs, max_tokens (the padded length), sum_tokens (the real
    * tokens), and waste_ppm = (n·max − sum)·10⁶ div (n·max) — the number
    * that justifies the bucketing. The window ranks WITHIN a bucket —
    * state bounded by bucket occupancy; callers with a mega-bucket (all
    * docs same length) should shard the bucket key first, the
    * capPerGroupSkewSafe discipline. Null/non-positive token counts are
    * rejected loudly — a zero-length sequence in a batch ledger is
    * upstream breakage, not a paddable row. */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokenCol: String,
                          bucketWidth: Int, batchSize: Int): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be positive: $bucketWidth")
    require(batchSize >= 1, s"batchSize must be positive: $batchSize")
    // in-pass validation: the guard rides the projection the real job
    // already makes (an eager pre-scan would cost a full extra pass)
    val tok = when(col(tokenCol).isNull || col(tokenCol) <= 0,
        raise_error(concat(
          lit(s"lengthBucketBatches: non-positive/null '$tokenCol' at $idCol="),
          col(idCol).cast("string"))))
      .otherwise(col(tokenCol).cast("long"))
    val bucket = expr(s"cast($tokenCol AS bigint) div $bucketWidth")
      .as("bucket")
    df.select(col(idCol), tok.as("__tok"), bucket)
      .withColumn("batch_no",
        ((row_number().over(Window.partitionBy("bucket").orderBy(idCol)) - 1)
          / batchSize).cast("int"))
      .groupBy(col("bucket"), col("batch_no"))
      .agg(count(lit(1)).as("n_seqs"),
        max("__tok").as("max_tokens"),
        sum("__tok").as("sum_tokens"))
      .withColumn("waste_ppm", expr(
        "((n_seqs * max_tokens - sum_tokens) * 1000000) div (n_seqs * max_tokens)"))
  }

  /** PERCENTILE SCORE NORMALIZATION — make per-source quality scores
    * comparable before a global threshold (two classifiers' raw scores
    * never share a scale; their percentiles do). The at-scale shape is
    * histogram-CDF, not rank: an exact per-row percentile needs a global
    * sort per group, but bucketing scores on the E19c histogram law
    * (`bucket = min(⌊score/width⌋, nBuckets−1)`) collapses the data to a
    * ≤ groups·nBuckets CDF frame that BROADCASTS back onto the scan — one
    * map-side-combined aggregation over the corpus, zero data-sized
    * shuffle, percentile resolution = one bucket. Output adds `bucket`
    * and `pct_ppm` = (rows at-or-below the row's bucket within its
    * group) · 10⁶ div (group rows) — an exact integer both engines agree
    * on. Null scores are excluded (no percentile without a score). */
  def percentileNormalize(df: DataFrame, groupCol: String, scoreCol: String,
                          width: Double, nBuckets: Int): DataFrame = {
    require(width > 0 && nBuckets > 0, s"bad histogram: w=$width n=$nBuckets")
    val bucket = least(floor(col(scoreCol) / width), lit(nBuckets - 1))
      .cast("int")
    val scored = df.where(col(scoreCol).isNotNull)
      .withColumn("bucket", bucket)
    val cdf = scored.groupBy(col(groupCol).as("__g"), col("bucket"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__cum_le", sum("__c").over(
        Window.partitionBy("__g").orderBy("bucket")))
      .withColumn("__n", sum("__c").over(Window.partitionBy("__g")))
      .select(col("__g"), col("bucket"),
        expr("(__cum_le * 1000000) div __n").as("pct_ppm"))
    scored.join(broadcast(cdf),
      scored(groupCol) === cdf("__g") && scored("bucket") === cdf("bucket"))
      .drop(cdf("bucket")).drop("__g")
  }

  /** Fixed point for [[mixtureWeightsMW]]: 2^20 — weights and quantized
    * losses carry 20 fractional bits, far under overflow at the documented
    * bounds. */
  val MwScale: Long = 1L << 20

  /** LEARNED data-mixing weights — multiplicative-weights reweighting of
    * domains by their excess loss (the DoReMi idea: a domain whose loss
    * sits above the mixture-weighted average earns more weight; one that
    * sits below loses some), LINEARIZED so every step is exact integer
    * arithmetic any engine reproduces bit for bit:
    *
    *   Lq_g   = (Σ loss_g · 2^20) div n_g            (quantized mean loss)
    *   w_g(0) = 2^20
    *   per round:  A = (Σ w·Lq) div (Σ w)            (weighted avg loss)
    *               w_g ← (w_g · (η·A + (Lq_g − A))) div (η·A)
    *
    * i.e. the factor is 1 + excess/(η·A) — the first-order expansion of
    * DoReMi's exp(excess·lr), with the learning rate expressed as the
    * integer `etaDen` (η above; larger = gentler). All quantities stay
    * positive (`loss` must be > 0): Lq − A > −A ≥ −η·A, so no clamp path
    * is ever data-reachable, and truncating division equals floor on both
    * engines. Output: (group, lq, w, share_ppm) with share_ppm the
    * normalized mixture in parts-per-million.
    *
    * Scale shape: the DATA-sized work is one group-by aggregation of the
    * corpus; the MW rounds iterate a |domains|-sized state, which is
    * driver math by design (the k-means-centroids altitude) — the collect
    * is contract-bounded by the domain count, documented like every other
    * bounded collect in this library. Rounds ≤ 16 keeps the growth factor
    * well inside long range at any loss spread. */
  def mixtureWeightsMW(df: DataFrame, groupCol: String, loss: Column,
                       rounds: Int, etaDen: Long = 4L): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds out of [1,16]: $rounds")
    require(etaDen >= 2 && etaDen <= (1L << 16),
      s"etaDen out of [2, 2^16]: $etaDen — the update factor's " +
        "etaDen·avg term shares the long headroom the overflow guard checks")
    require(!Seq("lq", "w", "share_ppm").contains(groupCol),
      s"mixtureWeightsMW: group column '$groupCol' collides with an output")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.groupBy(col(groupCol).cast("string").as("g"))
      .agg(sum(loss.cast("long")).as("s"), count(lit(1)).as("n"))
      .select(col("g"), expr(s"(s * ${MwScale}L) div n").as("lq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(base.nonEmpty, "mixtureWeightsMW: empty input")
    require(base.forall(_._2 > 0),
      "mixtureWeightsMW needs a strictly positive loss signal per domain")
    val lqs = base.map(_._2)
    var w = Array.fill(base.length)(MwScale)
    // loud overflow guard (check in BigInt, arithmetic stays long — the
    // BIGINT semantics the oracle restates): both Σ w·Lq and the update's
    // product w·(η·A + (Lq − A)) ≤ (η+1)·maxLq·w, at a generous w headroom
    // of 2^28, must fit a long — hence the η+1 factor, not η
    require(BigInt(base.length.toLong.max(etaDen + 1)) * BigInt(lqs.max) *
      BigInt(1L << 28) < BigInt(Long.MaxValue),
      s"mixtureWeightsMW overflow risk: ${base.length} domains, " +
        s"etaDen=$etaDen, max quantized loss ${lqs.max} — rescale the " +
        "loss signal down or lower etaDen")
    for (_ <- 1 to rounds) {
      val t = w.sum
      val a = w.iterator.zip(lqs.iterator).map { case (wi, li) => wi * li }.sum / t
      w = w.iterator.zip(lqs.iterator).map { case (wi, li) =>
        math.max(1L, (wi * (etaDen * a + (li - a))) / (etaDen * a))
      }.toArray
      require(w.max < (1L << 28),
        "mixtureWeightsMW diverged: a weight outgrew its headroom — " +
          "raise etaDen or lower rounds")
    }
    val tw = w.sum
    base.indices.map { i =>
      (base(i)._1, lqs(i), w(i), w(i) * 1000000L / tw)
    }.toDF(groupCol, "lq", "w", "share_ppm")
  }
}
