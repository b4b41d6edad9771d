package graft.operators

import graft.functions.ArrayDot.array_dot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over embedding columns (`Array[Float]`).
 *
 * Brute-force cosine is the exact baseline: per-partition partial
 * top-k via TakeOrderedAndProject (orderBy+limit), so the full score
 * set is never collected. The scale path is random-hyperplane LSH:
 * a signature buckets vectors so candidate generation touches only
 * same-bucket pairs (one shuffle by bucket).
 *
 * Norms are computed ONCE per vector before any pair join (O(n) not
 * O(n²)), and the inner product is a native codegen'd expression
 * (graft.functions.ArrayDot) — the per-pair cost is a primitive
 * 64-wide fused loop, not an interpreted lambda.
 */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dot product of two equal-length numeric array columns (double). */
  def dot(a: Column, b: Column): Column = array_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Positive AND finite norm. Zero-norm vectors (cosine 0/0 = NaN) and
    * vectors with NaN/Inf components would otherwise poison every
    * comparison/ranking they touch: Spark orders NaN ABOVE every
    * threshold, so one such vector out-edges to its whole candidate set
    * or floods a top-k. Every pair-generating operator here excludes
    * them up front — they contribute no pairs and stay singletons.
    * (NaN fails `<= MaxValue` under Spark's NaN-is-largest ordering;
    * Inf fails it numerically.) */
  private def finiteNorm(nv: Column): Column =
    nv > 0 && nv <= lit(Double.MaxValue)

  /** 1e-9 fixed-point quantization — the order-invariant float
    * contract for centroid sums ([[robustCentroids]],
    * [[centroidDriftMatrix]]): `floor(x·1e⁹ + 0.5)` is the same
    * explicit rule in Spark and the SQL oracle (unlike `round`, whose
    * tie semantics engines disagree on), and the resulting longs add
    * EXACTLY in any partition/merge order. |x| ≥ 9e9 would overflow
    * the long silently (Spark wraps outside ANSI mode) — refused
    * loudly; embedding coordinates are orders of magnitude smaller. */
  private[graft] def fixedPoint(x: Column, who: String): Column =
    // the guard condition is FALSE (or null) for NaN and null
    // elements too — they would otherwise poison a centroid silently
    // (the pre-fix float sums did); the error names all three causes
    when(abs(x) < lit(9.0e9), floor(x * lit(1e9) + lit(0.5)))
      .otherwise(raise_error(concat(
        lit(s"$who: coordinate is null, NaN, or >= 9e9 in magnitude " +
          "— breaks the 1e-9 fixed-point long contract: "),
        coalesce(x.cast("string"), lit("null")))))

  /**
   * Exact top-k nearest neighbours of the vector identified by
   * `queryId`, by cosine. The 1-row query side is broadcast — no
   * driver collect, no shuffle of the corpus.
   */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    // the query side is finiteNorm-filtered too: a degenerate query
    // vector makes every cos_sim NaN, and NaN-is-largest ordering would
    // return k NaN pairs — a degenerate query yields an EMPTY result
    val q = emb.filter(col(idCol) === queryId)
      .filter(finiteNorm(norm(col(vecCol))))
      .select(col(vecCol).as("__qvec"))
    emb.filter(col(idCol) =!= queryId)
      .filter(finiteNorm(norm(col(vecCol))))
      .join(broadcast(q))
      .select(col(idCol), graft.functions.GateRound(
        cosine(col(vecCol), col("__qvec")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /**
   * Two-stage retrieval over MATRYOSHKA prefix dimensions (Kusupati
   * et al. 2022, "Matryoshka Representation Learning" — MRL-trained
   * embeddings carry most of their signal in a dimension PREFIX):
   * stage 1 scores the corpus on the first `prefixDims` dimensions
   * only and keeps the top `candidates` by rounded coarse cosine
   * (deterministic id tie-break); stage 2 re-ranks just those
   * candidates with the full-dimension exact cosine and returns the
   * top k. The model-free member of the two-stage family: unlike
   * IVF (q72) or PQ (q9A) there is NOTHING to train, every score is
   * plain arithmetic a SQL oracle replays in full — the only
   * approximate-ANN path here with a FULL rows+schema+hash oracle.
   *
   * Scale shape: the stage-1 scan is the same one-pass broadcast-
   * query plan as [[bruteForceTopK]] but its hot loop runs
   * dim/prefixDims× fewer multiply-adds; storing the prefix as its
   * own column (the MRL deployment convention) turns that into the
   * same factor of scan IO. Stage 2 touches `candidates` rows —
   * driver-bounded metadata. Recall is the standard MRL trade,
   * measured in SimilaritySpec; `prefixDims` = full dim with
   * `candidates` ≥ corpus provably equals the brute force. Vectors
   * whose PREFIX has no finite positive norm are excluded from stage
   * 1 (they are invisible to the coarse metric; the usual
   * NaN-poisoning guard), as are degenerate full vectors and queries.
   */
  def matryoshkaTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int, prefixDims: Int,
                     candidates: Int): DataFrame = {
    require(prefixDims > 0, s"prefixDims must be positive, got $prefixDims")
    require(k > 0 && candidates >= k,
      s"need candidates >= k > 0, got k=$k candidates=$candidates")
    // prefixDims beyond the stored width would silently clamp via
    // slice — the "coarse" stage would BE the exact scan and the
    // caller would pay two full-dimension passes believing one is
    // cheap; refuse loudly. Probe with max(size) over non-null
    // vectors, not limit(1): a null in the arbitrary probed row
    // would NPE instead of raising the intended message, and under
    // ragged widths limit(1)'s outcome depends on which row the
    // engine returns. max is the refusal's contract — if prefixDims
    // ≥ the WIDEST vector, the coarse metric is exact for every row.
    val probed = emb.filter(col(vecCol).isNotNull)
      .agg(max(size(col(vecCol)))).head()
    if (!probed.isNullAt(0)) {
      require(prefixDims <= probed.getInt(0),
        s"prefixDims=$prefixDims exceeds the corpus vector width " +
          s"${probed.getInt(0)} — the coarse stage would silently be " +
          "the exact scan")
    }
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv"),
        slice(col(vecCol), 1, prefixDims).as("__qp"))
      .filter(finiteNorm(norm(col("__qv"))) && finiteNorm(norm(col("__qp"))))
    val stage1 = emb.filter(col(idCol) =!= queryId)
      .select(col(idCol), col(vecCol).as("__v"),
        slice(col(vecCol), 1, prefixDims).as("__p"))
      .filter(finiteNorm(norm(col("__v"))) && finiteNorm(norm(col("__p"))))
      .join(broadcast(q))
      .select(col(idCol), col("__v"), col("__qv"),
        graft.functions.GateRound(cosine(col("__p"), col("__qp")), 4)
          .as("cos_pre"))
      .orderBy(col("cos_pre").desc, col(idCol))
      .limit(candidates)
    stage1
      .select(col(idCol), col("cos_pre"),
        graft.functions.GateRound(cosine(col("__v"), col("__qv")), 4)
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /**
   * ROBUST per-group centroids via median-of-means — the
   * outlier-resistant twin of the plain [[VectorMean]] centroid the
   * drift monitors compare against: a poisoned ingest batch (a few
   * adversarial or corrupt vectors) shifts a mean by Θ(outlier/n) per
   * coordinate with unbounded magnitude, while the median over
   * `shards` independent bucket means ignores any minority of
   * contaminated buckets entirely — the standard heavy-tail/poisoning
   * estimator. Vectors land in buckets by the engine-independent
   * 40-bit md5 of their id ([[Sampling.hash40]] — deterministic,
   * salt-redrawable, SQL-replayable), each (group, bucket) reduces to
   * an ORDER-INVARIANT fixed-point mean, and the centroid coordinate
   * is the LOWER-MIDDLE element of the sorted bucket means (an
   * explicit element, never an interpolation — the cross-engine
   * contract). Output is LONG form — (group, dim, med) scalar rows,
   * groups × dim of metadata — so the gate's comparison never sees a
   * raw array column.
   *
   * Float contract (the round-13 qBQ lesson): a bucket mean as a raw
   * double sum is ORDER-DEPENDENT — partition/merge order perturbs
   * ulps, and `round(…, 4)` flips whenever a value straddles a
   * 5·10⁻⁵ boundary, so two runs of the same engine (or the engine
   * vs the SQL oracle) can legally disagree. The fix is the
   * [[TextAnalysis.sourceZScores]] pattern: each coordinate is
   * quantized ONCE to a 1e-9 fixed-point long (`floor(x·1e⁹ + 0.5)` —
   * the same explicit rule in both engines; |x| must stay under 9e9
   * or the long would overflow, guarded loudly), the bucket reduces
   * by EXACT integer addition ([[graft.functions.LongVectorSum]] —
   * commutative, any partition order), and the one float division
   * `sum/n/1e⁹` happens once per bucket on bit-identical operands.
   * Every downstream value (sort, median pick, round) is then a pure
   * function of exact integers — deterministic at any thread count
   * and bit-equal to the oracle's replay.
   *
   * Scale shape: one partial/final LongVectorSum shuffle of
   * groups × shards × dim longs (the corpus never moves), then a
   * metadata-sized explode + collect_list over `shards` elements per
   * (group, dim). Null groups/vectors and vectors shorter than `dim`
   * are excluded (the [[Pca.project]] skip contract). Odd `shards`
   * recommended: the lower-middle of an even count is biased low.
   */
  def robustCentroids(emb: DataFrame, idCol: String, groupCol: String,
                      vecCol: String, dim: Int, shards: Int = 5,
                      salt: String = "s0", scale: Int = 4): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    require(dim > 0, s"dim must be positive, got $dim")
    val spark = emb.sparkSession
    import spark.implicits._
    val lvs = udaf(new graft.functions.LongVectorSum(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    val bucketMeans = emb
      .filter(col(groupCol).isNotNull && col(vecCol).isNotNull &&
        size(col(vecCol)) >= dim)
      .select(col(groupCol).as("__g"),
        pmod(Sampling.hash40(Seq(col(idCol)), salt), lit(shards.toLong))
          .as("__b"),
        transform(slice(col(vecCol).cast("array<double>"), 1, dim),
          x => fixedPoint(x, "robustCentroids")).as("__v"))
      .groupBy(col("__g"), col("__b"))
      .agg(lvs(col("__v")).as("__s"), count(lit(1)).as("__n"))
      .select(col("__g"),
        transform(col("__s"),
          s => s.cast("double") / col("__n") / lit(1e9)).as("__m"))
    bucketMeans
      .select(col("__g"), posexplode(col("__m")))
      .groupBy(col("__g"), col("pos"))
      .agg(sort_array(collect_list(col("col"))).as("__xs"))
      .select(col("__g").as(groupCol),
        (col("pos") + 1).cast("int").as("dim"),
        // GateRound, not round: a tiny-negative median rounds to zero
        // and the sign bit of that zero is the one byte DuckDB and
        // Spark disagree on (the r14 gate forensic — label=8/dim=47)
        graft.functions.GateRound(element_at(col("__xs"),
          floor((size(col("__xs")) + 1) / lit(2.0)).cast("int")), scale)
          .as("med"))
  }

  /** Seed-fixed ±1 Rademacher sign matrix for [[randomProject]] —
    * generated identically on the driver and in the oracle's embedded
    * literals. The salt seeds through md5 (the [[Sampling.rankKey]]
    * convention — String.hashCode collides trivially, "Aa" == "BB",
    * which would make two "independent" projections identical), and
    * (j, i) packs INJECTIVELY into one long before the splitmix
    * finalizer — an additive i + c·j mix repeats entries whenever
    * dim exceeds the stride, correlating matrix rows and silently
    * voiding the JL independence assumption. */
  private[graft] def rademacherSigns(outDim: Int, dim: Int,
                                     salt: String): Array[Array[Double]] = {
    require(outDim <= (1 << 20) && dim <= (1 << 20),
      s"sign matrix $outDim x $dim exceeds the driver-metadata bound")
    val saltSeed = java.nio.ByteBuffer.wrap(
      java.security.MessageDigest.getInstance("MD5")
        .digest(salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      .getLong
    Array.tabulate(outDim, dim)((j, i) =>
      if ((Dedup.splitmix64(saltSeed ^ ((j.toLong << 32) | i.toLong)) & 1L)
          == 0L) 1.0 else -1.0)
  }

  /**
   * Johnson–Lindenstrauss random projection (Achlioptas 2003's ±1
   * database-friendly variant): `f(x)_j = Σᵢ sᵢⱼ·xᵢ / √outDim` with a
   * SEED-FIXED Rademacher sign matrix — the training-free
   * dimensionality reduction that preserves pairwise distances within
   * the JL bound in expectation. The full-oracle member of the
   * dim-reduction family: unlike [[Pca]] (fitted, rows-only) the
   * matrix is pure arithmetic both engines generate/embed literally,
   * and scores are the same SEQUENTIAL dot both sides (ArrayDot's
   * in-order fold ≡ the oracle's list_reduce), so every value
   * hash-matches. Delegates the projection plumbing to
   * [[Pca.project]] with a zero mean and unit scales (same null/
   * short-vector skip), then explodes to LONG form (id, dim, val) —
   * scalar rows, never a raw array in the gate projection.
   *
   * Shape: broadcast outDim×dim signs, outDim dots per row, zero
   * shuffle — one scan at any corpus size.
   */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    dim: Int, outDim: Int, salt: String = "s0",
                    scale: Int = 6): DataFrame = {
    require(dim > 0 && outDim > 0, s"need positive dims, got $dim -> $outDim")
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    val model = Pca.Model(new Array[Double](dim),
      Array.fill(outDim)(1.0),
      rademacherSigns(outDim, dim, salt).map(_.map(_ * inv)))
    Pca.project(emb, idCol, vecCol, model, whiten = false, scale = scale)
      .select(col(idCol), posexplode(col("pc")))
      .select(col(idCol), (col("pos") + 1).cast("int").as("dim"),
        col("col").as("val"))
  }

  /** Loud scale guard shared by the two DELIBERATE O(n²) baselines
    * ([[allPairsTopK]], [[allPairsAbove]]): above `maxRows` vectors
    * the n²/2 pair space stops being a verification tool and becomes
    * a cluster-killer, so the operator REFUSES with a pointer to the
    * bounded paths instead of silently melting a 1000-executor job.
    * The count is one cheap job — acceptable in an explicitly
    * verification-scale operator (this is not the production path). */
  private def guardQuadratic(emb: DataFrame, op: String,
                             maxRows: Long): Unit = {
    val n = emb.count()
    require(n <= maxRows,
      s"$op: $n vectors -> ~${n * n / 2} candidate pairs. This is the " +
        "O(n^2) verification baseline; at corpus scale use the bounded " +
        "paths (lshPairs/signedLshPairs/knnJoin/semanticDedup). Pass " +
        s"maxRows explicitly (got $maxRows) to force a larger run.")
  }

  /** Exact top-k most-similar pairs across the whole corpus (O(n²)/2
    * pairs — the verification-scale baseline the LSH path
    * approximates; refuses corpora beyond `maxRows`, see
    * [[guardQuadratic]]). */
  def allPairsTopK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   maxRows: Long = 1000000L): DataFrame = {
    guardQuadratic(emb, "allPairsTopK", maxRows)
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na")).filter(finiteNorm(col("na")))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb")).filter(finiteNorm(col("nb")))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.GateRound(dot(col("va"), col("vb")) /
          (col("na") * col("nb")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Exact all-pairs with cosine ≥ `minCos` — the edge set of the
    * embedding near-dup graph. O(n²) verification-scale baseline (the
    * LSH/IVF paths bound the candidate set at corpus scale).
    *
    * The threshold cuts on the RAW double cosine, before display
    * rounding: both engines accumulate float→double products in array
    * order, so the values agree to ~1 ulp and the raw cut is the
    * tightest-aligned comparison (a pre-cut rounding would only move
    * the knife edge, not remove it). Measured margin of the testdata
    * pair nearest 0.40: ≥ 1e-5 at every SF — 10 orders above ulp. */
  def allPairsAbove(emb: DataFrame, idCol: String, vecCol: String,
                    minCos: Double, maxRows: Long = 1000000L): DataFrame = {
    guardQuadratic(emb, "allPairsAbove", maxRows)
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na")).filter(finiteNorm(col("na")))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb")).filter(finiteNorm(col("nb")))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_raw"))
      .filter(col("cos_raw") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** The directed cell-pair candidate list of [[exactPairsPruned]]:
    * keep (i,j) unless the angular triangle inequality PROVES no
    * member pair can reach `minCos`. For cells with centroid angles
    * θij and member radii ri, rj (max angle member↔centroid), every
    * cross pair's angle is ≥ θij − ri − rj, so its cosine is ≤
    * cos(max(0, θij − ri − rj)) — below-threshold bounds prune the
    * whole cell pair EXACTLY (a 1e-6 margin absorbs float jitter; the
    * inequality itself is not approximate). Degenerate geometry
    * (zero-norm centroid → NaN bound) keeps the pair — conservative,
    * never wrong. Within-cell pairs are always kept. Kept cross pairs
    * are emitted in BOTH directions so the id-ordered join sees each
    * member pair exactly once. */
  private[graft] def allowedCellPairs(
      centroids: Seq[Seq[Double]], radii: Map[Int, Double],
      minCos: Double): Seq[(Int, Int)] = {
    def dotd(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def angle(a: Seq[Double], b: Seq[Double]): Double =
      math.acos(math.max(-1.0, math.min(1.0,
        dotd(a, b) / math.sqrt(dotd(a, a) * dotd(b, b)))))
    val cells = radii.keys.toSeq.sorted // only cells that HAVE members
    for {
      i <- cells; j <- cells if i <= j
      bound = math.cos(math.max(0.0,
        angle(centroids(i), centroids(j)) - radii(i) - radii(j)))
      // NaN bound (degenerate centroid) must KEEP: !(NaN < x) is true
      if !(bound < minCos - 1e-6)
      p <- if (i == j) Seq((i, i)) else Seq((i, j), (j, i))
    } yield p
  }

  /**
   * EXACT all-pairs with cosine ≥ `minCos` — same contract and output
   * as [[allPairsAbove]] — but sub-quadratic on clustered corpora:
   * k-means cells (IvfIndex's deterministic Lloyd) plus the angular
   * triangle inequality prune every cell PAIR that provably cannot
   * contain a qualifying pair (see [[allowedCellPairs]]), and the
   * quadratic join runs only over surviving cell pairs. Unlike
   * [[semanticDedup]]/[[lshPairs]] this loses NO recall: pruning is a
   * proof, not a heuristic, so the result is bit-identical to the
   * brute force (pinned in ScaleOperatorsSpec).
   *
   * Scale shape: real embedding corpora are angularly clustered (that
   * is why IVF works), so at a near-dup threshold (≥ 0.9) almost
   * every cross-cell pair is provably cold and candidate volume
   * approaches Σ|cell|² — the [[semanticDedup]] economics with exact
   * semantics. Worst case (uniform high-dim corpus, low threshold)
   * no bound fires and the plan degrades to [[allPairsAbove]] plus
   * one clustering pass — never wrong, at most unpruned. The
   * centroid/radius math is metadata-sized driver work (nlist × dim
   * + nlist² doubles); the corpus sees one assignment pass and one
   * cell-pair-bounded join. `maxCellSize` is the hot-cell guard for
   * the quadratic phases: exactness forbids [[semanticDedup]]'s
   * member-dropping cap, so when a degenerate clustering (near-
   * identical embeddings, or Lloyd collapsing onto one populated
   * cell) would silently turn "pruned" into n², the operator REFUSES
   * LOUDLY ([[refuseHotCells]]) instead — re-cluster with larger
   * nlist/iters, raise the cap deliberately, or take the approximate
   * paths ([[semanticDedup]]/[[lshPairs]]). `None` keeps the
   * unguarded behavior (candidate volume stays visible in the
   * logged pair counts either way).
   */
  def exactPairsPruned(emb: DataFrame, idCol: String, vecCol: String,
                       minCos: Double, nlist: Int, iters: Int = 2,
                       cacheKey: Option[String] = None,
                       maxCellSize: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (centroids, assigned, statsF) =
      cellGeometry(emb, idCol, vecCol, nlist, iters, cacheKey)
    val stats = statsF()
    refuseHotCells("exactPairsPruned", stats, maxCellSize)
    val radii = stats.map { case (c, (r, _)) => c -> r }
    val allowedPairs = allowedCellPairs(centroids, radii, minCos)
    // visible pruning: how much of the cell-pair space the bound
    // eliminated (the whole point of the operator at scale)
    log.info(s"exactPairsPruned: ${allowedPairs.count { case (a, b) => a <= b }}" +
      s"/${radii.size.toLong * (radii.size + 1) / 2} undirected cell pairs " +
      s"survive the angular bound at minCos=$minCos (nlist=$nlist)")
    val allowed = allowedPairs.toDF("cell_a", "cell_b")
    assigned.as("a")
      .join(broadcast(allowed), col("a.cell") === col("cell_a"))
      .join(assigned.as("b"),
        col("cell_b") === col("b.cell") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")))
          .as("cos_raw"))
      .filter(col("cos_raw") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 4).as("cos_sim"))
  }

  /** Loud hot-cell guard of the pruned-EXACT pair operators: their
    * within/cross-cell joins are quadratic in the hottest cell, and a
    * degenerate clustering (one populated cell) makes Σ|cell|² = n² —
    * "pruned" silently becoming full brute force at scale. Exactness
    * rules out [[semanticDedup]]'s drop-the-overflow cap (members
    * dropped = pairs lost = wrong answer), so the only honest guard
    * is refusal with the remediation spelled out. Opt-in (`None`
    * preserves the unguarded contract); sizes come free with the
    * radii scan. */
  private def refuseHotCells(op: String, stats: Map[Int, (Double, Long)],
                             maxCellSize: Option[Int]): Unit =
    maxCellSize.foreach { cap =>
      val hot = stats.filter { case (_, (_, n)) => n > cap }
      if (hot.nonEmpty) {
        val (worstCell, (_, worstN)) = hot.maxBy { case (_, (_, n)) => n }
        throw new IllegalArgumentException(
          s"$op: ${hot.size} cell(s) exceed maxCellSize=$cap (hottest: " +
            s"cell $worstCell with $worstN members -> ~${worstN * worstN / 2} " +
            "within-cell pairs). The clustering is too coarse or has " +
            "collapsed; re-cluster with larger nlist/iters, raise " +
            "maxCellSize deliberately, or use the approximate paths " +
            "(semanticDedup/lshPairs) if exactness is negotiable.")
      }
    }

  /** Shared geometry pass of the pruned-exact operators: trained
    * centroids, the checkpointed cell assignment (assign ONCE before
    * any self-join — the knnJoin finding: the nlist-wide argmin
    * otherwise re-inlines into filter and project on both join
    * sides; raw float vectors + norms ride along so scoring stays
    * expression-identical to allPairsAbove), and a LAZY thunk for the
    * per-cell stats — angular radius (max angle member↔centroid) and
    * member count, one narrow agg, nlist rows of driver metadata;
    * only the pair-pruning operators pay for it (the count rides the
    * same scan so the hot-cell guard costs no extra pass). */
  private def cellGeometry(emb: DataFrame, idCol: String, vecCol: String,
                           nlist: Int, iters: Int,
                           cacheKey: Option[String])
      : (Seq[Seq[Double]], DataFrame, () => Map[Int, (Double, Long)]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = cacheKey match {
      case Some(key) => IvfIndex.trainCached(emb, idCol, vecCol, nlist, iters, key)
      case None => IvfIndex.train(emb, idCol, vecCol, nlist, iters)
    }
    def assignPass: DataFrame = IvfIndex.assign(emb, idCol, vecCol, centroids)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"), col("ivf_cell").as("cell"))
      .filter(finiteNorm(col("nv")))
    // the tag must identify WHICH columns were assigned, not just the
    // frame: two calls on one frame with different id/vector columns
    // share the semanticHash-keyed input half of the key
    val tag = s"cellgeom-$idCol-$vecCol-$nlist-$iters"
    // keyed corpora memoize the assignment per (JVM, lake content) so
    // the pruned-exact siblings (qB6 threshold / qB7 top-k) share one
    // build — cachedOn checkpoints; the unkeyed path checkpoints here
    val assigned = cacheKey match {
      case Some(_) => FrameCache.cachedOn(emb.sparkSession, tag, emb)(assignPass)
      case None => assignPass.localCheckpoint(true)
    }
    def radiiPass: Map[Int, (Double, Long)] = {
      val centDf = centroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "__cent")
      assigned
        .join(broadcast(centDf), Seq("cell"))
        .select(col("cell"), acos(least(lit(1.0), greatest(lit(-1.0),
          dot(col("v").cast("array<double>"), col("__cent")) /
            (col("nv") * sqrt(dot(col("__cent"), col("__cent"))))))).as("__ang"))
        .groupBy(col("cell"))
        .agg(max(col("__ang")).as("r"), count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    }
    // radii are deterministic per (assignment, centroids) — memoize
    // them under the SAME identity as the assignment (appId + tag +
    // input plan/data fingerprint) so repeat invocations skip the
    // scan+collect too, not just the assignment build. LAZY (a thunk):
    // the pair-pruning operators need radii, but prototypicalityFilter
    // only needs centroids + assignment — eagerly computing them there
    // would add one whole wasted corpus pass to its first run
    val radii: () => Map[Int, (Double, Long)] = cacheKey match {
      case Some(_) =>
        val k = emb.sparkSession.sparkContext.applicationId + "|" + tag +
          "|" + emb.queryExecution.analyzed.semanticHash() + ":" +
          FrameCache.frameFingerprint(emb)
        () => radiiCache.computeIfAbsent(k, _ => radiiPass)
      case None => () => radiiPass
    }
    (centroids, assigned, radii)
  }

  /** [[cellGeometry]]'s driver-side radii+size memo (nlist entries —
    * metadata, no eviction pressure). */
  private val radiiCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, (Double, Long)]]()

  /**
   * EXACT top-k most-similar pairs — same contract and output as
   * [[allPairsTopK]] — sub-quadratic on clustered corpora via a
   * two-phase bound: phase 1 scores only WITHIN-cell pairs (a subset,
   * Σ|cell|² work) and takes its k-th best RAW cosine as a lower
   * bound L on the final k-th score (more candidates can only raise
   * it); phase 2 prunes every cell pair whose angular bound falls
   * below L minus one display-rounding quantum (the published
   * ordering is on `round(cos, 4)`, so a raw score within 1e-4 of L
   * can still display-tie into the top k — the widened margin keeps
   * the prune exact under rounding ties too) and runs the exact join
   * over survivors. Worst case (uniform corpus): phase 1 adds
   * Σ|cell|²/2 ≈ n²/(2·nlist) scores, nothing prunes, and the total
   * is ~(1 + 1/nlist)× the brute force — never wrong, at most
   * unpruned; on clustered corpora phase 2 collapses toward the
   * diagonal and total work approaches 2·Σ|cell|²/2. `maxCellSize`
   * guards the quadratic phases against a degenerate clustering
   * exactly as in [[exactPairsPruned]] — an opt-in LOUD refusal
   * ([[refuseHotCells]]), checked BEFORE the phase-1 within-cell
   * join, since exactness forbids dropping members. Candidate volume
   * stays visible in the logged pair counts either way.
   */
  def allPairsTopKPruned(emb: DataFrame, idCol: String, vecCol: String,
                         k: Int, nlist: Int, iters: Int = 2,
                         cacheKey: Option[String] = None,
                         maxCellSize: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // k ≤ 0 → empty, matching allPairsTopK's limit(0) behavior (the
    // phase-1 bound below would otherwise evaluate `min` of an empty
    // score set: 0 collected == k is true when k == 0)
    if (k <= 0)
      return emb.limit(0).select(col(idCol).as("id_a"),
        col(idCol).as("id_b"), lit(0.0).as("cos_sim"))
    val (centroids, assigned, statsF) =
      cellGeometry(emb, idCol, vecCol, nlist, iters, cacheKey)
    val stats = statsF()
    refuseHotCells("allPairsTopKPruned", stats, maxCellSize)
    val radii = stats.map { case (c, (r, _)) => c -> r }
    def scored(pairs: DataFrame): DataFrame =
      pairs.select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")))
          .as("cos_raw"))
    // phase 1: within-cell k-th best raw score → TakeOrdered (k rows
    // to the driver — metadata). Fewer than k within-cell pairs → no
    // bound (L = −∞ keeps every cell pair, phase 2 = brute force).
    val within = scored(assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id")))
      .orderBy(col("cos_raw").desc).limit(k)
      .collect().map(_.getDouble(2))
    val bound = if (within.length == k) within.min else Double.NegativeInfinity
    // 2e-4 margin: one 4-decimal rounding quantum (display ties reach
    // raw scores up to ~1e-4 below L) plus the float-jitter epsilon
    val allowedPairs = allowedCellPairs(centroids, radii, bound - 2e-4)
    log.info(s"allPairsTopKPruned: ${allowedPairs.count { case (a, b) => a <= b }}" +
      s"/${radii.size.toLong * (radii.size + 1) / 2} undirected cell pairs " +
      s"survive the k-th-score bound ${"%.4f".format(bound)} (k=$k, nlist=$nlist)")
    val allowed = allowedPairs.toDF("cell_a", "cell_b")
    scored(assigned.as("a")
        .join(broadcast(allowed), col("a.cell") === col("cell_a"))
        .join(assigned.as("b"),
          col("cell_b") === col("b.cell") && col("a.id") < col("b.id")))
      .select(col("id_a"), col("id_b"),
        graft.functions.GateRound(col("cos_raw"), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /**
   * D4-style PROTOTYPICALITY filter (Tirumala et al. 2023, "D4:
   * Improving LLM Pretraining via Document De-Duplication and
   * Diversification") — the diversification half of the D4 recipe,
   * whose dedup half is [[semanticDedup]]: within each k-means cell,
   * the members MOST similar to their cell centroid are the
   * over-represented template mass (generic boilerplate survives
   * near-dup dedup as many distinct-but-interchangeable documents),
   * so the top `dropFrac` fraction by cosine-to-centroid is dropped
   * and the diverse tail kept. Every finite-norm input id is emitted
   * with its cell, rounded prototypicality score, and the keep
   * decision: rank within the cell by RAW cosine descending (id
   * tie-break), keep rank > floor(|cell| · dropFrac).
   *
   * Scale shape: one geometry pass ([[cellGeometry]], memoized
   * per-(JVM, lake, nlist, iters) under `cacheKey`; NOTE the cache
   * keys fold nlist/iters, so a call at different geometry than the
   * pruned-exact pair operators builds its own assignment — qB8's
   * nlist=1 is its own trivial build, not a reuse of qB6/qB7's
   * nlist=16 artifact), a broadcast centroid join, and a per-cell
   * window rank; the radii thunk is never forced — no pair geometry
   * is paid for here. The window sorts one cell per task — cells are
   * n/nlist-sized by construction, so pick nlist ∝ n / (target cell
   * size) exactly as for [[semanticDedup]]; a hot cell costs one
   * O(|cell| log |cell|) sort task, never a quadratic join. With
   * nlist = 1 the centroid is the global mean after the first Lloyd
   * pass (all vectors share the one cell), which is what qB8's full
   * SQL oracle replays — cosine is scale-invariant, so the oracle
   * may rank against the per-dimension SUM vector.
   */
  def prototypicalityFilter(emb: DataFrame, idCol: String, vecCol: String,
                            dropFrac: Double, nlist: Int, iters: Int = 2,
                            cacheKey: Option[String] = None): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0,
      s"dropFrac must be in [0, 1), got $dropFrac")
    val spark = emb.sparkSession
    import spark.implicits._
    val (centroids, assigned, _) =
      cellGeometry(emb, idCol, vecCol, nlist, iters, cacheKey)
    val centDf = centroids.zipWithIndex.map { case (c, i) =>
      (i, c, math.sqrt(c.map(x => x * x).sum)) }
      .toDF("cell", "__cent", "__cnorm")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("__cos").desc, col("id"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
    assigned.join(broadcast(centDf), Seq("cell"))
      .select(col("id"), col("cell"),
        (dot(col("v").cast("array<double>"), col("__cent")) /
          (col("nv") * col("__cnorm"))).as("__cos"))
      .select(col("id"), col("cell"), col("__cos"),
        (row_number().over(w) >
          floor(count(lit(1)).over(wc) * lit(dropFrac))).as("kept"))
      .select(col("id"), col("cell"),
        // GateRound: a cosine a hair under zero rounds to -0.0 in the
        // DuckDB oracle (manifest at sf0.1) — normalize the sign bit
        graft.functions.GateRound(col("__cos"), 4).as("cos_proto"),
        col("kept"))
  }

  /**
   * Per-group embedding CENTROID-DRIFT matrix — the embedding-space
   * sibling of [[TextAnalysis.klDriftMatrix]]'s token-distribution
   * probe: for every group pair, the Euclidean distance between the
   * groups' mean vectors (the linear-kernel MMD statistic — the
   * cheapest two-sample drift estimate; Gretton et al. 2012). The
   * mixture-monitoring question it answers: did source/label X move
   * in embedding space relative to Y (model drift, upstream filter
   * change, template contamination) without scoring a single pair?
   *
   * Scale shape: ONE partial/final [[graft.functions.LongVectorSum]]
   * aggregate (each map task ships dim longs per group — corpus
   * never shuffles), then a localCheckpointed G-row self-join for the
   * G² matrix. Loud cap at 4096 groups — the matrix is meant for
   * sources/labels/shards, not per-document keys.
   *
   * Float contract: centroids are 1e-9 [[fixedPoint]] integer sums
   * divided once (the qBQ round-13 lesson — an order-dependent double
   * sum under round-4 is a nondeterministic oracle), and the distance
   * is the SEQUENTIAL fold `sqrt(((0 + d₁²) + d₂²) + …)` both engines
   * replay verbatim — every emitted value is a pure function of exact
   * integers, stable at any thread count.
   *
   * Output: (groupCol_a, groupCol_b, n_a, n_b, dist), a < b, dist
   * rounded to 4. Null groups and null vectors are excluded; vectors
   * are assumed uniform-dimension (the mean truncates at the first
   * row's width).
   */
  def centroidDriftMatrix(emb: DataFrame, groupCol: String,
                          vecCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val clean = emb.filter(col(groupCol).isNotNull && col(vecCol).isNotNull)
    val first = clean.select(size(col(vecCol))).limit(1).collect()
    if (first.isEmpty)
      return clean.select(col(groupCol).as(s"${groupCol}_a"),
        col(groupCol).as(s"${groupCol}_b"), lit(0L).as("n_a"),
        lit(0L).as("n_b"), lit(0.0).as("dist")).limit(0)
    val lvs = udaf(new graft.functions.LongVectorSum(first.head.getInt(0)),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    // checkpoint before the self-join: the G-row agg would otherwise
    // re-run the corpus scan on BOTH join sides (and for the cap count)
    val cents = clean.groupBy(col(groupCol).as("g"))
      .agg(lvs(transform(col(vecCol).cast("array<double>"),
          x => fixedPoint(x, "centroidDriftMatrix"))).as("__s"),
        count(lit(1)).as("n"))
      .select(col("g"),
        transform(col("__s"),
          s => s.cast("double") / col("n") / lit(1e9)).as("cent"),
        col("n"))
      .localCheckpoint(true)
    val g = cents.count()
    require(g <= 4096, s"centroidDriftMatrix: $g groups would build a " +
      s"${g}x$g matrix — group by sources/labels/shards, not row keys")
    val dist = sqrt(aggregate(zip_with(col("a.cent"), col("b.cent"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, e) => acc + e))
    cents.as("a").join(cents.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as(s"${groupCol}_a"), col("b.g").as(s"${groupCol}_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        round(dist, 4).as("dist"))
      .orderBy(col(s"${groupCol}_a"), col(s"${groupCol}_b"))
  }

  /**
   * SemDeDup-style semantic dedup (Abbas et al. 2023): k-means
   * (IvfIndex's deterministic Lloyd) partitions the corpus into
   * `nlist` cells, the quadratic cosine edge search runs only WITHIN
   * each cell, and near-dup components are canonicalized to min-id —
   * the embedding-space analogue of [[graft.operators.Dedup.dedupCorpus]].
   * Returns (id, canonical_id, is_canonical) for every input vector.
   *
   * Scale shape: clustering replaces the O(n²) global pair space with
   * nlist × O((n/nlist)²) — with nlist ∝ √n the candidate stream is
   * linear in the corpus. One shuffle clusters the cells; the per-cell
   * self-join is the bounded quadratic. Cell imbalance concentrates
   * work exactly like a hot LSH bucket — `maxCellSize` applies the
   * same guard (logged drop, members stay singletons; see
   * [[Dedup.capBuckets]]).
   *
   * Recall: a near-dup pair straddling a cluster boundary is missed —
   * the standard SemDeDup trade. nlist=1 provably equals the exact
   * [[allPairsAbove]] + components path (pinned in Round5OpsSpec,
   * along with measured recall at nlist>1); precision is exact (every
   * emitted edge is a verified raw-double cosine ≥ `minCos`, same
   * threshold contract as [[allPairsAbove]]).
   *
   * Zero-norm vectors (possible from [[TextAnalysis.hashEmbed]] when
   * a doc's signs cancel) stay singletons: their cosine is 0/0 = NaN,
   * and Spark's NaN-is-largest comparison would otherwise glue such a
   * vector to its ENTIRE cell. Ids must be integral (the
   * [[ConnectedComponents]] contract — non-numeric ids would silently
   * cast to null and drop every edge).
   */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    minCos: Double, nlist: Int, iters: Int = 2,
                    cacheKey: Option[String] = None,
                    maxCellSize: Option[Int] = None): DataFrame = {
    require(Seq("int", "bigint", "smallint", "tinyint")
        .contains(emb.schema(idCol).dataType.simpleString),
      s"semanticDedup: $idCol must be an integral id column " +
        "(ConnectedComponents casts endpoints to long)")
    val centroids = cacheKey match {
      case Some(key) => IvfIndex.trainCached(emb, idCol, vecCol, nlist, iters, key)
      case None => IvfIndex.train(emb, idCol, vecCol, nlist, iters)
    }
    // assign ONCE into a checkpoint before the self-join — without it
    // the nlist-wide argmin expression re-inlines into filter AND
    // project on BOTH join sides (the knnJoin finding, same fix)
    val assigned = Dedup.capBuckets(
      IvfIndex.assign(emb, idCol, vecCol, centroids)
        .select(col(idCol).as("id"), col(vecCol).as("v"),
          norm(col(vecCol)).as("nv"), col("ivf_cell").as("cell"))
        .filter(finiteNorm(col("nv"))), // NaN/Inf/zero-norm → singleton
      Seq("cell"), maxCellSize, "semanticDedup")
      .localCheckpoint(true)
    val edges = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")) >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cc = ConnectedComponents.run(edges, "id_a", "id_b")
    emb.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("canonical_id"))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  /** Deterministic random hyperplanes (seed-fixed), one per signature bit. */
  private def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /**
   * Approximate kNN SELF-join: every vector's k nearest neighbours
   * across the corpus, without the O(n²) all-pairs plan. The corpus is
   * IVF-assigned ONCE and localCheckpointed — the in-memory twin of
   * [[IvfIndex.writeIndex]]'s persisted cell assignment (at lake scale
   * you write the index and prune partitions; in one session you
   * checkpoint it) — so the nlist-wide argmin runs one pass, not once
   * per join side re-inlined into filter AND project (measured 2.3× on
   * the candidate stage). The driver derives, per cell, its
   * `probeCells` nearest cells from the nlist×nlist centroid distances
   * (metadata math), and candidates are only (vector,
   * vector-in-probed-cell) pairs — corpus × probeCells/nlist rows,
   * LINEAR in the corpus.
   *
   * Top-k per query vector is the bounded-heap [[graft.functions.TopKByScore]]
   * partial/final aggregate, NOT a row_number window: the window form
   * shuffles the whole candidate stream; the heap ships ≤ k rows per
   * (vector, map task). Same ordering contract (cos desc, nn_id asc).
   * Ids must be integral (widened to long in the output — the
   * [[hardNegatives]] contract).
   *
   * Recall is bounded by cell locality (a true neighbour outside the
   * probed cells is missed) — measured and pinned in SimilaritySpec.
   */
  def knnJoin(emb: DataFrame, idCol: String, vecCol: String, k: Int,
              nlist: Int = 16, probeCells: Int = 4,
              iters: Int = 2, cacheKey: Option[String] = None): DataFrame = {
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(emb.schema(idCol).dataType),
      s"knnJoin: $idCol must be an integral id column " +
        s"(got ${emb.schema(idCol).dataType.simpleString}) — " +
        "the output widens id/nn_id to long (hardNegatives contract); " +
        "string/decimal ids need a caller-side surrogate key")
    val centroids = cacheKey match {
      case Some(key) => IvfIndex.trainCached(emb, idCol, vecCol, nlist, iters, key)
      case None => IvfIndex.train(emb, idCol, vecCol, nlist, iters)
    }
    val assigned = IvfIndex.assign(emb, idCol, vecCol, centroids)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"), col("ivf_cell").as("cell"))
      .filter(finiteNorm(col("nv")))
      .localCheckpoint(true)
    val spark = emb.sparkSession
    import spark.implicits._
    // per cell: its probeCells nearest cells (incl. itself) — driver
    // math. A corpus smaller than nlist trains fewer centroids, so
    // iterate what train actually returned, capped probes likewise.
    val pairs = centroids.indices.flatMap { a =>
      IvfIndex.probeCells(centroids(a), centroids,
          math.min(probeCells, centroids.size))
        .map(b => (a, b))
    }.toDF("cell_a", "cell_b")
    val cand = assigned.as("x")
      .join(broadcast(pairs), col("x.cell") === col("cell_a"))
      .join(assigned.as("y"),
        col("cell_b") === col("y.cell") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id"),
        round(dot(col("x.v"), col("y.v")) / (col("x.nv") * col("y.nv")), 4)
          .as("__score"),
        col("y.id").as("__nid"))
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(k))
    cand.groupBy(col("id"))
      .agg(topk(col("__score"), col("__nid"), lit(0L)).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("__pos", "n")))
      .select(col("id"), col("n.id").as("nn_id"), col("n.score").as("cos_sim"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /**
   * [[knnJoin]]'s FULL-hash-oracle twin over [[IvfIndex.trainExact]]
   * centroids: the same cell-bounded candidate shape (corpus ×
   * probeCells/nlist pairs, LINEAR in the corpus; bounded-heap top-k,
   * never a corpus window), but every index decision — quantization,
   * Lloyd iterations, cell assignment, probe-cell choice — is exact
   * integer arithmetic, so a SQL oracle replays the index
   * bit-for-bit and the result hashes green (the qBS/qCA/qCJ
   * fixed-point precedent crossed onto k-means). Final scores are
   * GateRound(cosine, 4) over the ORIGINAL float vectors (the
   * q54/q55 margin-bound convention).
   */
  def knnJoinExact(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   nlist: Int = 8, probeCells: Int = 4,
                   iters: Int = 2,
                   cacheKey: Option[String] = None): DataFrame = {
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(emb.schema(idCol).dataType),
      s"knnJoinExact: $idCol must be an integral id column " +
        s"(got ${emb.schema(idCol).dataType.simpleString})")
    val centroids = cacheKey match {
      case Some(key) =>
        IvfIndex.trainExactCached(emb, idCol, vecCol, nlist, iters, key)
      case None => IvfIndex.trainExact(emb, idCol, vecCol, nlist, iters)
    }
    // assignment rides the durable (id, cell) sidecar when a lake is
    // named (the interpreted exact argmin runs once per generation),
    // and in any case lands in ONE checkpoint before the self-join —
    // the knnJoin lesson: otherwise the argmin re-inlines into
    // filter AND project on both join sides
    val cellFrame = cacheKey match {
      case Some(key) =>
        IvfIndex.assignExactCached(emb, idCol, vecCol, centroids, key)
      case None => IvfIndex.assignExact(emb, idCol, vecCol, centroids)
        .select(col(idCol), col("ivf_cell"))
    }
    val assigned = emb.join(cellFrame, Seq(idCol))
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"), col("ivf_cell").as("cell"))
      .filter(finiteNorm(col("nv")))
      .localCheckpoint(true)
    val spark = emb.sparkSession
    import spark.implicits._
    val pairs = centroids.indices.flatMap { a =>
      IvfIndex.probeCellsExact(centroids(a), centroids,
          math.min(probeCells, centroids.size))
        .map(b => (a, b))
    }.toDF("cell_a", "cell_b")
    val cand = assigned.as("x")
      .join(broadcast(pairs), col("x.cell") === col("cell_a"))
      .join(assigned.as("y"),
        col("cell_b") === col("y.cell") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id"),
        graft.functions.GateRound(
          dot(col("x.v"), col("y.v")) / (col("x.nv") * col("y.nv")), 4)
          .as("__score"),
        col("y.id").as("__nid"))
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(k))
    cand.groupBy(col("id"))
      .agg(topk(col("__score"), col("__nid"), lit(0L)).as("top"))
      .select(col("id"), posexplode(col("top")).as(Seq("__pos", "n")))
      .select(col("id"), col("n.id").as("nn_id"),
        col("n.score").as("cos_sim"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /**
   * [[semanticDedup]]'s FULL-hash-oracle twin over
   * [[IvfIndex.trainExact]] centroids: identical cell-bounded edge
   * search (nlist × O((n/nlist)²) candidates — never all-pairs) and
   * min-label canonicalization, with the k-means index exact-integer
   * and therefore SQL-replayable. The cosine threshold compare is
   * UNROUNDED, the q9G margin-bound convention.
   */
  def semanticDedupExact(emb: DataFrame, idCol: String, vecCol: String,
                         minCos: Double, nlist: Int, iters: Int = 2,
                         cacheKey: Option[String] = None,
                         maxCellSize: Option[Int] = None): DataFrame = {
    require(Seq("int", "bigint", "smallint", "tinyint")
        .contains(emb.schema(idCol).dataType.simpleString),
      s"semanticDedupExact: $idCol must be an integral id column " +
        "(ConnectedComponents casts endpoints to long)")
    val centroids = cacheKey match {
      case Some(key) =>
        IvfIndex.trainExactCached(emb, idCol, vecCol, nlist, iters, key)
      case None => IvfIndex.trainExact(emb, idCol, vecCol, nlist, iters)
    }
    val cellFrame = cacheKey match {
      case Some(key) =>
        IvfIndex.assignExactCached(emb, idCol, vecCol, centroids, key)
      case None => IvfIndex.assignExact(emb, idCol, vecCol, centroids)
        .select(col(idCol), col("ivf_cell"))
    }
    val assigned = Dedup.capBuckets(
      emb.join(cellFrame, Seq(idCol))
        .select(col(idCol).as("id"), col(vecCol).as("v"),
          norm(col(vecCol)).as("nv"), col("ivf_cell").as("cell"))
        .filter(finiteNorm(col("nv"))),
      Seq("cell"), maxCellSize, "semanticDedupExact")
      .localCheckpoint(true)
    val edges = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv"))
        >= minCos)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cc = ConnectedComponents.run(edges, "id_a", "id_b")
    emb.select(col(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("canonical_id"))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  /**
   * Approximate near-duplicate pairs: only pairs sharing a bucket in
   * at least one of `tables` independent signature tables are scored.
   * Returns (id_a, id_b, cos_sim) — a recall-bounded subset of
   * allPairsTopK's candidate space at a fraction of the cost.
   *
   * `tables` is the classic LSH amplification knob: one `bits`-bit
   * signature alone collides a near-dup pair with probability
   * p^bits (p = 1 − θ/π per hyperplane), which for bits=8 and
   * cosine≈0.9 is only ~0.3 — measured recall 0.05 on the planted
   * top-pair set. With L independent tables the pair survives if ANY
   * table collides: 1−(1−p^bits)^L (measured ≥0.9 at L=8 on the same
   * set — pinned in ScaleOperatorsSpec). Cost: the banded stream is
   * L× #vectors rows, still tiny next to the O(n²) it avoids.
   *
   * `maxBucketSize` drops (and logs) pathologically hot buckets
   * before the self-join — see [[Dedup.capBuckets]].
   */
  def lshPairs(emb: DataFrame, idCol: String, vecCol: String,
               bits: Int, dim: Int, tables: Int = 8,
               maxBucketSize: Option[Int] = None): DataFrame = {
    require(tables >= 1)
    // one fused kernel computes all tables×bits sign bits per row —
    // the composed array-of-folds spelling costs thousands of Catalyst
    // nodes of per-execution analysis (see LshSignatures scaladoc)
    val planes = (0 until tables)
      .flatMap(t => hyperplanes(bits, dim, seed = 42L + t))
      .map(_.toArray).toArray
    val sigArr = graft.functions.ArrayDot.lsh_signatures(
      col(vecCol), planes, tables, bits)
    val banded0 = emb.select(col(idCol).as("id"),
      posexplode(sigArr).as(Seq("table", "bucket")))
    val banded = Dedup.capBuckets(banded0, Seq("table", "bucket"),
      maxBucketSize, "lshPairs")
    // candidate pair ids first (dedup across tables), vectors joined
    // back once per surviving pair — not once per table collision
    val cand = banded.as("x").join(banded.as("y"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv")).filter(finiteNorm(col("nv")))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("nv").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("nv").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cos_sim"))
  }

  /** ±1 sign-projection hyperplanes, seed-fixed: one (table, bit) row
    * per plane. ±1 entries (vs [[hyperplanes]]' Gaussians) keep every
    * per-bit dot product an exact left-to-right double sum that a SQL
    * oracle replays bit-for-bit — signed random projection preserves
    * the same cosine-angle collision geometry (Charikar 2002), so
    * nothing is lost vs Gaussian planes except the irreproducible RNG. */
  private[graft] def signedPlanes(tables: Int, bits: Int,
                                  dim: Int): Seq[(Int, Int, Seq[Double])] = {
    val rnd = new scala.util.Random(4242L)
    for { t <- 0 until tables; b <- 0 until bits }
      yield (t, b, Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** The [[signedPlanes]] as DuckDB VALUES rows `(t, b, s)` — embedded
    * in the oracle SQL so the bucketing replays exactly. */
  private[graft] def signedPlanesSql(tables: Int, bits: Int, dim: Int): String =
    signedPlanes(tables, bits, dim).map { case (t, b, s) =>
      s"($t, $b, [${s.map(_.toInt).mkString(",")}])"
    }.mkString(", ")

  /**
   * FULLY ORACLE-CHECKED embedding near-dup pairs via signed-projection
   * LSH — the deterministic twin of [[lshPairs]] (whose Gaussian
   * hyperplanes keep it rows-only). Same banded spine: per-table
   * sign-bit buckets, hot buckets dropped loudly, candidates deduped
   * across tables, ONE exact-cosine verification join. Every per-bit
   * dot is a sequential left-to-right double sum over the
   * double-cast embedding, identical in the DuckDB replica, so bucket
   * assignment — and therefore the emitted pair set — matches exactly.
   */
  def signedLshPairs(emb: DataFrame, idCol: String, vecCol: String,
                     bits: Int, dim: Int, tables: Int = 4,
                     maxBucketSize: Option[Int] = None): DataFrame = {
    require(tables >= 1 && bits >= 1 && bits <= 30)
    // signedPlanes yields (t, b) in t-major order, so the flattened
    // layout is exactly LshSignatures' [t*bits + b] contract; the
    // kernel's per-bit left-to-right double accumulation over
    // per-element-promoted floats is bit-identical to the previous
    // cast-to-double ArrayDot fold, so the oracle's bucket replay
    // still matches exactly
    val planes = signedPlanes(tables, bits, dim).map(_._3.toArray).toArray
    val sigArr = graft.functions.ArrayDot.lsh_signatures(
      col(vecCol), planes, tables, bits)
    val banded0 = emb.select(col(idCol).as("id"),
      posexplode(sigArr).as(Seq("table", "bucket")))
    val banded = Dedup.capBuckets(banded0, Seq("table", "bucket"),
      maxBucketSize, "signedLshPairs")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.table") === col("y.table") &&
          col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nv")).filter(finiteNorm(col("nv")))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("nv").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("nv").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cos_sim"))
  }

  /**
   * Hard-negative mining for contrastive/retrieval training: for each
   * query vector, the k most-cosine-similar corpus vectors carrying a
   * DIFFERENT label (the "hard" negatives — close in embedding space,
   * wrong by supervision).
   *
   * Scale shape: the query batch (a training batch — small by
   * construction) is broadcast against ONE scan of the corpus; the
   * per-query top-k is a typed bounded-heap aggregate
   * ([[graft.functions.TopKByScore]]), so Spark plans a partial/final
   * hash aggregate — each map task reduces its corpus slice to ≤ k
   * candidates per query and only those shuffle. The window-function
   * formulation (`row_number over partition by query`) would shuffle
   * the ENTIRE |queries| × |corpus| scored stream; this moves
   * O(queries × k × tasks).
   *
   * cos_sim is rounded to 4 decimals BEFORE ranking so the ordering
   * (cos desc, id asc) is reproducible against a SQL oracle computing
   * the same rounded score. Degenerate (zero/NaN/Inf-norm) vectors are
   * excluded on both sides, as everywhere in this module.
   *
   * @return (q_id, rank, n_id, n_label, cos_sim), rank 1..k per query
   */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queryPred: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // the bounded-heap carries (id, label) as longs; a non-integral
    // column would cast to null and die inside the non-nullable
    // aggregator encoder with an opaque error — refuse up front
    Seq(idCol, labelCol).foreach { c =>
      require(Seq("int", "bigint", "smallint", "tinyint")
          .contains(emb.schema(c).dataType.simpleString),
        s"hardNegatives: $c must be an integral column " +
          s"(got ${emb.schema(c).dataType.simpleString}); map string " +
          "labels to codes first")
    }
    val clean = emb.filter(finiteNorm(norm(col(vecCol))))
    val q = clean.filter(queryPred).select(
      col(idCol).as("q_id"), col(vecCol).as("__qv"), col(labelCol).as("__ql"))
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.TopKByScore(k))
    val scored = clean
      .join(broadcast(q), col(labelCol) =!= col("__ql"))
      .select(col("q_id"),
        graft.functions.GateRound(cosine(col(vecCol), col("__qv")), 4)
          .as("__score"),
        col(idCol).cast("long").as("__id"),
        col(labelCol).cast("long").as("__tag"))
    scored.groupBy(col("q_id"))
      .agg(topk(col("__score"), col("__id"), col("__tag")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("__pos", "n")))
      .select(col("q_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("n.id").as("n_id"), col("n.tag").cast("int").as("n_label"),
        col("n.score").as("cos_sim"))
  }
}
