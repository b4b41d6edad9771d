package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale text corpora: exact,
 * n-gram Jaccard, MinHash+LSH banding, and SimHash.
 *
 * All hashing is deterministic and fully codegen'd — no UDFs, no
 * driver-side loops. Per-document signature/shingle builds run as
 * single-pass native Expressions ([[graft.functions.ShingleExprs]]):
 * map-side only, zero shuffles until the band/prefix candidate join,
 * whose input is tiny (#docs × bands rows, or the AllPairs prefix).
 * Pairwise verification touches candidates only — the all-pairs O(n²)
 * never materializes at scale.
 */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * Hot-bucket guard for banded LSH self-joins: a pathological corpus
   * (thousands of near-identical documents — precisely the dedup use
   * case) can put a huge cohort into one band bucket, and the
   * equi-join then goes quadratic in that bucket. With `cap` set, any
   * bucket holding more than `cap` rows is DROPPED before the join —
   * a documented recall trade (members of a skipped bucket can still
   * pair through their other bands), never a silent one: every skip
   * is logged with the bucket count. The bucket census is a partial
   * hash aggregate (metadata-sized result) and the exclusion is a
   * broadcast anti-join — no extra shuffle of the banded stream.
   */
  private[operators] def capBuckets(banded: DataFrame, keys: Seq[String],
                                    cap: Option[Int], what: String): DataFrame =
    cap match {
      case None => banded
      case Some(c) =>
        require(c > 0, "maxBucketSize must be positive")
        val hot = banded.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("bkt_n")).filter(col("bkt_n") > c)
          .collect()
        if (hot.isEmpty) banded
        else {
          log.warn(s"$what: skipping ${hot.length} bucket(s) over " +
            s"maxBucketSize=$c (largest=${hot.map(_.getLong(keys.size)).max} rows); " +
            "pairs confined to skipped buckets are not emitted")
          val spark = banded.sparkSession
          import spark.implicits._
          val hotKeys = hot.map(r =>
            keys.indices.map(i => r.get(i).toString).mkString("\u0000")).toSeq
          val hotDf = hotKeys.toDF("__hotkey")
          banded
            .withColumn("__hotkey",
              concat_ws("\u0000", keys.map(k => col(k).cast("string")): _*))
            .join(broadcast(hotDf), Seq("__hotkey"), "left_anti")
            .drop("__hotkey")
        }
    }

  /** Exact dedup: canonical (min-id) representative per distinct key. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Distinct character n-gram shingles of a string column — one
    * codegen'd pass ([[graft.functions.DistinctCharGrams]], pinned in
    * ShingleParitySpec bit-identical to the relational spelling
    * `when(length(c) >= n, array_distinct(transform(sequence(1,
    * length(c)−(n−1)), i → substr(i, n)))).otherwise(array(c))`,
    * degenerate branches included: < n chars ⇒ [whole string], null ⇒
    * [null]). The relational chain re-evaluated the interpreted
    * lambda per gram position and re-hashed the materialized array
    * inside array_distinct. */
  def charShingles(c: Column, n: Int): Column =
    graft.functions.ShingleExprs.distinct_char_grams(c, n)

  /**
   * Distinct w-word shingles of a string column (classic w-shingling).
   * For natural/low-entropy text, word shingles carry far more
   * entropy per shingle than character n-grams — with char 3-grams
   * over a small vocabulary nearly every document pair shares most
   * grams and LSH banding stops discriminating (measured: 61% of all
   * pairs became candidates on the test corpus; word shingles take
   * that to ~the true near-dup set).
   */
  def wordShingles(c: Column, w: Int): Column = {
    // `\S+` runs — never an empty token; identical tokenization to
    // TextAnalysis.tokens, ShingleExprs.toks and the DuckDB oracles
    val toks = regexp_extract_all(c, lit("\\S+"), lit(0))
    when(size(toks) >= w,
      array_distinct(transform(sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /**
   * Corpus-overlap diagnostics: pairwise Jaccard of the DISTINCT
   * w-shingle sets of each group (source/domain/snapshot) — the
   * "how much does source A repeat source B" matrix that decides
   * which corpora are worth cross-deduplicating at all. Group
   * cardinality is small (sources, not documents): the per-group gram
   * sets aggregate map-side off the shingle kernel, the self-join is
   * on gram hash, and the output is |groups|² rows of metadata.
   */
  def groupJaccard(docs: DataFrame, groupCol: String, textCol: String,
                   w: Int): DataFrame = {
    val grams = docs
      .select(col(groupCol).as("g"),
        explode(graft.functions.ShingleExprs.shingle_hashes(col(textCol), w))
          .as("h"))
      .distinct()
    val sizes = grams.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val inter = grams.as("x").join(grams.as("y"),
        col("x.h") === col("y.h") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("g_a"), col("y.g").as("g_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(sizes.select(col("g").as("g_a"), col("n").as("na"))), "g_a")
      .join(broadcast(sizes.select(col("g").as("g_b"), col("n").as("nb"))), "g_b")
      .select(col("g_a"), col("g_b"),
        (col("i") / (col("na") + col("nb") - col("i")).cast("double"))
          .as("jaccard"))
  }

  /**
   * [[groupJaccard]]'s scale path: estimate the matrix from MinHash
   * signatures alone. The signature of a UNION of sets is the
   * element-wise MIN of the member signatures, so each group's
   * signature reduces map-side (k `min` aggregates over the per-doc
   * kernel output) and the pairwise estimates are driver math over
   * |groups|·k longs of metadata — the corpus-sized gram stream is
   * never joined against itself. Standard error ~ sqrt(J(1−J)/k).
   * Pairs estimating 0 are omitted (an agreeing position implies a
   * shared shingle, so zero-overlap pairs cannot appear); conversely a
   * tiny-J pair may estimate 0 and drop — the exact matrix keeps it.
   * Group keys ride as strings (any input type accepted).
   */
  def groupJaccardApprox(docs: DataFrame, groupCol: String, textCol: String,
                         w: Int = 3, k: Int = 128): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // group key ridden as string (any input type); a minhash position
    // agrees only when a SHARED shingle minimizes both sides, so
    // zero-overlap pairs estimate 0 and are dropped below — matching
    // groupJaccard's shape, which omits pairs with no shared gram
    val keyed = docs.withColumn("__g", col(groupCol).cast("string"))
    val sigs = signatures(keyed, "__g", textCol, shingleWords = w, k = k)
    val mins = (0 until k).map(i =>
      min(element_at(col("sig"), i + 1)).as(s"m$i"))
    val grouped = sigs.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .collect()
      .map(r => r.getString(0) -> (1 to k).map(r.getLong(_)).toArray)
    val ests = for {
      (ga, sa) <- grouped.toSeq
      (gb, sb) <- grouped.toSeq if ga < gb
      est = {
        var agree = 0
        var i = 0
        while (i < k) { if (sa(i) == sb(i)) agree += 1; i += 1 }
        agree.toDouble / k
      }
      if est > 0.0
    } yield (ga, gb, est)
    ests.toDF("g_a", "g_b", "est_jaccard")
  }

  // Fixed mixing constants (splitmix64 stream, seed 42) for the k
  // minhash permutations h_i(x) = (a_i*x + b_i) mod P (the classic
  // universal-hash family). a_i is 30-bit odd, b_i 32-bit, and x is
  // masked to 32 bits, so a_i*x + b_i < 2^63 — no overflow under ANSI
  // arithmetic. The `mod P` is LOAD-BEARING: without it a_i*x + b_i is
  // monotone in x, every h_i minimizes at the same shingle, the k
  // "permutations" collapse to one, and LSH banding degenerates to
  // per-pair collision probability J instead of 1-(1-J^r)^b (measured:
  // recall 0.82 at J=0.8 instead of the ~0.9998 banding predicts).
  private[graft] val MINHASH_P = 4294967311L // smallest prime > 2^32
  /** The splitmix64 finalizer — the ONE shared bit-mixer behind the
    * minhash constants and every planted-fixture pattern (qAJ video
    * frames, spec fixtures). A single xor-mul round is NOT enough: its
    * low bit stays nearly periodic in the input (measured: collapsed
    * 2500 video frames onto 65 fingerprints). */
  private[graft] def splitmix64(x: Long): Long = {
    var z = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[graft] def mixConstants(k: Int, stream: Int, bits: Int): Seq[Long] = {
    var x = 42L + stream * 0x9E3779B97F4A7C15L
    Seq.fill(k) {
      x += 0x9E3779B97F4A7C15L
      (splitmix64(x) >>> (64 - bits)) | 1L
    }
  }

  /** Estimated Jaccard from two equal-length minhash signatures —
    * one codegen'd merge loop ([[graft.functions.SigAgreeCount]],
    * pinned in ShingleParitySpec ≡ `size(filter(zip_with(a, b,
    * _ === _), z => z))` incl. unequal lengths and null slots) over
    * three interpreted HOFs and two intermediate arrays per pair. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    graft.functions.ShingleExprs.sig_agree_count(sigA, sigB) / lit(k.toDouble)

  /**
   * MinHash+LSH near-duplicate detection.
   * Returns (id_a, id_b, est_jaccard, jaccard) for pairs that (1) share
   * at least one of `bands` band-buckets, (2) pass the signature-level
   * estimate `minEstJaccard`, and (3) carry the exact Jaccard of their
   * hashed-shingle sets for final thresholding. bands·rows must equal k.
   *
   * Execution shape (this is the part that must survive 100 TB): the
   * per-document heavy lifting — tokenize, w-shingle, hash, k minhash
   * permutations — is ONE codegen'd per-row kernel
   * ([[graft.functions.ShingleMinHashSig]]), so the signature build is
   * map-side only: nothing shuffles until the banded candidate join,
   * whose input is #docs × bands tiny rows (not the shingle stream).
   * No higher-order array lambdas in the hot path either — Spark
   * interprets those per element. The only interpreted per-pair work
   * (est/exact Jaccard on arrays) runs after candidates are cut down
   * by banding + the O(k) estimate filter.
   *
   * Documents with fewer than `shingleWords` tokens produce no
   * shingles and drop out (they cannot near-dup at this granularity).
   *
   * `precomputedSigs` CONTRACT: the frame must be the output of
   * [[signatures]] built with THE SAME `(shingleWords, k)` as this
   * call. A `k` mismatch would slice `element_at(sig, i+1)` past the
   * signature array in [[bandBuckets]] and silently hash nulls into
   * the buckets — so the signature length is asserted per row (a
   * codegen'd O(1) `size` check inside the scan) and a mismatch fails
   * loudly instead. `shingleWords` is not recoverable from the frame
   * and stays the caller's responsibility.
   */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleWords: Int = 3, k: Int = 64, bands: Int = 16,
                        minEstJaccard: Double = 0.0,
                        maxBucketSize: Option[Int] = None,
                        precomputedSigs: Option[DataFrame] = None): DataFrame = {
    // `precomputedSigs` feeds the persisted/memoized signature
    // artifact ([[signatures]] scaladoc — at ingest scale it is
    // written columnar next to the lake; in one JVM, FrameCache) so
    // several dedup consumers share one signature pass
    val sigs = precomputedSigs match {
      case None => signatures(docs, idCol, textCol, shingleWords, k)
      case Some(pre) => pre.withColumn("sig",
        when(size(col("sig")) === k, col("sig")).otherwise(raise_error(
          concat(lit("minhashCandidates: precomputedSigs signature length "),
            size(col("sig")).cast("string"),
            lit(s" != this call's k=$k — the frame was built with "),
            lit("different signatures() parameters")))))
    }
    val banded = capBuckets(bandBuckets(sigs, k, bands),
      Seq("band", "bucket"), maxBucketSize, "minhashCandidates")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyCandidates(cand, sigs, k, minEstJaccard)
  }

  /**
   * Per-document signature table — the PERSISTABLE artifact of the
   * dedup family: `(id, sig array<long>, hs array<long>)`, computed in
   * ONE map-side pass (graft.functions.ShingleMinHashSig, codegen'd:
   * tokenizing, shingling, hashing and the k permutation minima are
   * per-row loops; the old explode → distinct → groupBy pipeline
   * shuffled the corpus-sized shingle stream twice). At ingest scale
   * this is computed once, written columnar next to the lake, and
   * every later batch dedups against the STORED signatures without
   * ever re-reading the historical corpus text
   * ([[minhashCandidatesIncremental]]). Docs with < w tokens drop out.
   */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
                 shingleWords: Int = 3, k: Int = 64): DataFrame = {
    val a = mixConstants(k, 1, 30)
    val b = mixConstants(k, 2, 32)
    docs.select(col(idCol).as("id"),
        graft.functions.ShingleExprs.shingle_minhash(col(textCol),
          shingleWords, k, a.toArray, b.toArray, MINHASH_P).as("s"))
      .filter(size(col("s.hs")) > 0)
      .select(col("id"), col("s.sig").as("sig"), col("s.hs").as("hs"))
  }

  /** Band buckets = hashes of signature slices (plain columns), with
    * `carry` columns preserved through the posexplode. */
  private def bandBuckets(sigs: DataFrame, k: Int, bands: Int,
                          carry: Seq[String] = Nil): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val buckets = (0 until bands).map(j =>
      hash((j * r until (j + 1) * r).map(i => element_at(col("sig"), i + 1)): _*))
    sigs.select(col("id") +: carry.map(col) :+
      posexplode(array(buckets: _*)).as(Seq("band", "bucket")): _*)
  }

  /** Estimate filter, then exact set verification on candidates only. */
  private def verifyCandidates(cand: DataFrame, sigs: DataFrame, k: Int,
                               minEstJaccard: Double): DataFrame =
    cand
      .join(sigs.select(col("id").as("id_a"), col("hs").as("hs_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("hs").as("hs_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), k))
      .filter(col("est_jaccard") >= minEstJaccard)
      // |a∩b| via one sorted-merge pass (the hash sets arrive sorted
      // from the kernel); |a∪b| = |a| + |b| − |a∩b| — no per-pair
      // hash-set builds or result-array allocations
      .withColumn("__i", graft.functions.ShingleExprs
        .sorted_intersect_count(col("hs_a"), col("hs_b")))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        (col("__i") /
          (size(col("hs_a")) + size(col("hs_b")) - col("__i")).cast("double"))
          .as("jaccard"))

  /**
   * Incremental near-dup candidates of a NEW batch against a stored
   * signature table ([[signatures]] output, typically read back from
   * parquet): emits (new, stored) and (new, new) pairs — never
   * (stored, stored), which earlier batches already reported. The
   * historical corpus text is never touched; only its banded
   * signatures join the batch. Ids must be disjoint between the two
   * tables (re-ingested ids would self-pair as est 1.0).
   */
  def minhashCandidatesIncremental(newSigs: DataFrame, storedSigs: DataFrame,
                                   k: Int = 64, bands: Int = 16,
                                   minEstJaccard: Double = 0.0,
                                   maxBucketSize: Option[Int] = None): DataFrame = {
    val all = newSigs.select(col("id"), col("sig"), col("hs"), lit(true).as("is_new"))
      .unionByName(storedSigs.select(col("id"), col("sig"), col("hs"),
        lit(false).as("is_new")))
    val banded = capBuckets(bandBuckets(all, k, bands, carry = Seq("is_new")),
      Seq("band", "bucket"), maxBucketSize, "minhashCandidatesIncremental")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id") &&
          (col("x.is_new") || col("y.is_new")))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyCandidates(cand, all.drop("is_new"), k, minEstJaccard)
  }

  /**
   * CROSS-corpus near-dup candidates: pairs with one side from
   * `sigsA` and one from `sigsB` only — never within-corpus pairs.
   * This is FUZZY test-set decontamination (the near-dup complement of
   * [[Contamination.flagContaminated]]'s exact-gram overlap): sigsA =
   * training batch, sigsB = eval set, any returned training doc
   * near-dups an eval doc. Output ids: id_a from A, id_b from B.
   * Ids must be disjoint across the two tables (a shared id would fan
   * out the verification join), same contract as
   * [[minhashCandidatesIncremental]].
   */
  def crossCandidates(sigsA: DataFrame, sigsB: DataFrame,
                      k: Int = 64, bands: Int = 16,
                      minEstJaccard: Double = 0.0,
                      maxBucketSize: Option[Int] = None): DataFrame = {
    val all = sigsA.select(col("id"), col("sig"), col("hs"), lit("a").as("side"))
      .unionByName(sigsB.select(col("id"), col("sig"), col("hs"),
        lit("b").as("side")))
    val banded = capBuckets(bandBuckets(all, k, bands, carry = Seq("side")),
      Seq("band", "bucket"), maxBucketSize, "crossCandidates")
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.side") === lit("a") && col("y.side") === lit("b"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    verifyCandidates(cand, all.drop("side"), k, minEstJaccard)
  }

  /**
   * Exact n-gram Jaccard similarity for all pairs above `minJaccard`.
   * All-pairs via gram-equality join — O(Σ_g m_g²) pairs; intended for
   * bounded subsets or as the verification stage after LSH. Pure
   * relational algebra (expressible as ANSI SQL — used as the oracle
   * path for the LSH variants).
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, minJaccard: Double): DataFrame = {
    val grams = docs.select(col(idCol).as("id"),
        explode(charShingles(col(textCol), n)).as("g"))
    val sizes = grams.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val inter = grams.as("a").join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_grams").as("ca")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_grams").as("cb")), "id_b")
      .withColumn("jaccard",
        col("inter") / (col("ca") + col("cb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * EXACT all-pairs Jaccard ≥ t via prefix filtering (the classic
   * AllPairs/PPJoin pruning from the string-similarity-join
   * literature): order each document's hashed shingles by a global
   * canonical order (the hash value), keep only the first
   * |d| − ⌈t·|d|⌉ + 1 of them, and join on those prefix tokens — any
   * pair with Jaccard ≥ t MUST collide in the prefixes, so recall is
   * 100% (unlike MinHash banding), while the join touches a small
   * prefix instead of every shingle. Verification computes exact
   * Jaccard on the full shingle sets for candidates only.
   *
   * Shape: one explode + window (prefix extraction), one equi-join on
   * prefix tokens, one distinct — all shuffle-bounded by the prefix
   * size, which shrinks as t grows.
   */
  def prefixFilterJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                               shingleWords: Int, minJaccard: Double): DataFrame = {
    // sorted distinct shingle hashes per doc in ONE map-side pass
    // (graft.functions.ShingleHashSet, codegen'd) — replaces
    // explode → global distinct → two windows (count + row_number),
    // i.e. three shuffles of the full shingle stream, with zero. The
    // array arrives SORTED, so the AllPairs canonical order is free:
    // the prefix is simply the first n − ⌈t·n⌉ + 1 elements.
    // checkpoint the per-doc hash arrays ONCE: this frame feeds the
    // prefix self-join (both sides) AND the two verification joins —
    // without the barrier the tokenize+shingle+hash+sort kernel
    // re-inlines into every scan (the knnJoin finding, same fix)
    val sized = docs.select(col(idCol).as("id"),
        graft.functions.ShingleExprs.shingle_hashes(
          col(textCol), shingleWords).as("arr"))
      .filter(col("arr").isNotNull)
      .select(col("id"), col("arr"), size(col("arr")).as("n"))
      .localCheckpoint(true)
    val prefix = sized.select(col("id"), col("n"),
        posexplode(slice(col("arr"), lit(1),
          (col("n") - ceil(lit(minJaccard) * col("n")) + 1).cast("int")))
          .as(Seq("p0", "h")))
      .select(col("id"), col("n"), (col("p0") + 1).as("p"), col("h")) // 1-based pos
    // length filter (the other half of AllPairs/PPJoin pruning):
    // J(a,b) ≥ t ⟹ t·|b| ≤ |a| ≤ |b|/t, so size-incompatible pairs are
    // cut inside the join before the expensive set verification
    val matched = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id") &&
          col("x.n") >= ceil(lit(minJaccard) * col("y.n")) &&
          col("y.n") >= ceil(lit(minJaccard) * col("x.n")))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("x.h"),
        col("x.p").as("px"), col("y.p").as("py"),
        col("x.n").as("nx"), col("y.n").as("ny"))
    // PPJoin positional filter: both arrays are in one global canonical
    // order (sorted hashes), so for the FIRST (minimum-hash) shared
    // prefix token at positions (px, py) no shared token precedes it in
    // either array — an earlier shared token would be in both prefixes
    // and have matched first. Hence overlap ≤ 1 + min(nx−px, ny−py),
    // while J ≥ t needs overlap ≥ ⌈t/(1+t)·(nx+ny)⌉ — pairs whose bound
    // can't reach the requirement never enter the array verification.
    val cand = matched
      .groupBy(col("id_a"), col("id_b"))
      .agg(min_by(col("px"), col("h")).as("px"),
        min_by(col("py"), col("h")).as("py"),
        first(col("nx")).as("nx"), first(col("ny")).as("ny"))
      .filter(lit(1) + least(col("nx") - col("px"), col("ny") - col("py")) >=
        ceil(lit(minJaccard) / (1 + minJaccard) * (col("nx") + col("ny"))))
      .select(col("id_a"), col("id_b"))
    val sets = sized.select(col("id"), col("arr").as("hset"))
    cand
      .join(sets.select(col("id").as("id_a"), col("hset").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hset").as("sb")), "id_b")
      // sorted-merge |a∩b| (arrays sorted by construction); union by
      // inclusion–exclusion — same rational, no per-pair allocations
      .withColumn("__i", graft.functions.ShingleExprs
        .sorted_intersect_count(col("sa"), col("sb")))
      .withColumn("jaccard",
        col("__i") /
          (size(col("sa")) + size(col("sb")) - col("__i")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Exact CONTAINMENT pairs — the asymmetric near-dup measure:
   * C(a,b) = |A∩B| / min(|A|,|B|) ≥ t, which a symmetric Jaccard
   * threshold dilutes away whenever a short document is quoted inside
   * a much longer one (J ≤ |small|/|big| regardless of overlap). The
   * quote/subset detector of the dedup family.
   *
   * Candidate pruning is the one-sided prefix filter: an overlap of
   * ≥ t·|small| must touch the SMALLER set's (1−t)-prefix of its
   * sorted hash array, so prefixes (every doc's own, ~(1−t)·tokens
   * rows) join against the full inverted token stream — one equi-join
   * shuffle keyed by shingle hash, never all-pairs; size pruning is
   * impossible by design (any size ratio can contain). Verification is
   * the same sorted-merge intersect kernel as the Jaccard path.
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleWords: Int, minContainment: Double): DataFrame = {
    require(minContainment > 0 && minContainment <= 1)
    // checkpoint once: prefix + full inverted stream + both
    // verification joins all read this frame (see the Jaccard twin)
    val sized = docs.select(col(idCol).as("id"),
        graft.functions.ShingleExprs.shingle_hashes(
          col(textCol), shingleWords).as("arr"))
      .filter(col("arr").isNotNull)
      .select(col("id"), col("arr"), size(col("arr")).as("n"))
      .localCheckpoint(true)
    val prefix = sized.select(col("id"),
      explode(slice(col("arr"), lit(1),
        (col("n") - ceil(lit(minContainment) * col("n")) + 1).cast("int")))
        .as("h"))
    val full = sized.select(col("id"), explode(col("arr")).as("h"))
    val cand = prefix.as("x").join(full.as("y"),
        col("x.h") === col("y.h") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
      .distinct()
    val sets = sized.select(col("id"), col("arr").as("hset"))
    cand
      .join(sets.select(col("id").as("id_a"), col("hset").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hset").as("sb")), "id_b")
      .withColumn("__i", graft.functions.ShingleExprs
        .sorted_intersect_count(col("sa"), col("sb")))
      .withColumn("containment",
        col("__i") / least(size(col("sa")), size(col("sb"))).cast("double"))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /**
   * Corpus canonicalization: drop every document that near-dups a
   * lower-id document (greedy one-pass representative selection over
   * the MinHash+LSH pair set — the standard production policy; not a
   * transitive closure, which would need iterative connected
   * components).
   *
   * `precomputedSigs` must be a [[signatures]] frame built at THIS
   * call's operating point (the defaults here: w=3, k=64) — length is
   * re-asserted per row in [[minhashCandidates]].
   */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  minJaccard: Double,
                  precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val losers = minhashCandidates(docs, idCol, textCol,
        minEstJaccard = minJaccard * 0.5, precomputedSigs = precomputedSigs)
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-source dedup IMPACT report — the curation dashboard number
    * ("how much of each domain survives dedup, in docs and tokens"):
    * [[dedupCorpus]]'s keep set re-aggregated by source with token
    * mass. One broadcast-able keep-flag join + one partial-agg
    * groupBy(source); |sources| rows out. FULL-oracle-able because the
    * entire LSH keep decision replays in SQL (XxhOracle).
    * `precomputedSigs` contract as in [[dedupCorpus]] (w=3, k=64). */
  def dedupImpactBySource(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, minJaccard: Double,
                          precomputedSigs: Option[DataFrame] = None): DataFrame = {
    val t = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val kept = dedupCorpus(docs, idCol, textCol, minJaccard, precomputedSigs)
      .select(col(idCol).as("doc_id"), lit(1L).as("__kept"))
    t.join(kept, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__kept").isNotNull, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("__kept").isNotNull, col("n_tokens")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_total"), col("tokens_kept"),
        when(col("tokens_total") === 0, lit(0.0))
          .otherwise(round(col("tokens_kept").cast("double") /
            col("tokens_total").cast("double"), 6)).as("kept_frac"))
  }

  /**
   * Corpus canonicalization over the EXACT prefix-filtered pair set:
   * same greedy min-id-wins policy as `dedupCorpus`, but the pair set
   * is `prefixFilterJaccardPairs` (100% recall, exact Jaccard) instead
   * of MinHash banding — fully deterministic and SQL-expressible, so
   * the whole pipeline can be oracle-checked. Same scale shape: the
   * join is bounded by prefix size.
   */
  def dedupCorpusExact(docs: DataFrame, idCol: String, textCol: String,
                       shingleWords: Int, minJaccard: Double): DataFrame = {
    val losers = prefixFilterJaccardPairs(docs, idCol, textCol,
        shingleWords, minJaccard)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /**
   * 64-bit SimHash of a token-array column: per-bit ±1 vote of each
   * token's xxhash64, sign of the vote sum becomes the bit.
   * Single shuffle (groupBy id over exploded tokens).
   */
  def simhash(docs: DataFrame, idCol: String, tokensCol: Column): DataFrame =
    // one codegen'd pass per row (graft.functions.SimHash64) — the 64
    // per-bit vote sums are a per-document loop, not 64 shuffled
    // aggregates over an exploded token stream. Token-less docs drop
    // out (null signature), matching the old explode behavior.
    docs.select(col(idCol).as("id"),
        graft.functions.ShingleExprs.simhash64(tokensCol).as("simhash"))
      .filter(col("simhash").isNotNull)

  /**
   * ALL SimHash pairs within hamming distance `maxHamming`, by
   * pigeonhole banding: the 64 signature bits are split into
   * `maxHamming + 1` contiguous bands, so any pair differing in at
   * most `maxHamming` bits MUST agree exactly on at least one band —
   * the banded equi-join is therefore COMPLETE at the requested
   * radius (not a recall-bounded approximation like MinHash banding).
   * The flip side: larger radii mean narrower bands, bigger buckets
   * and a more expensive join — radius 3 (the default, 4×16-bit
   * bands) is the classic near-dup operating point; cap pathological
   * buckets with `maxBucketSize` (which trades completeness for a
   * logged bound) rather than raising the radius.
   */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Option[Int] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      "maxHamming must be in [0, 63]")
    val bands = maxHamming + 1
    val bound = (0 to bands).map(j => j * 64 / bands) // band bit offsets
    val bandArr = array((0 until bands).map { j =>
      val w = bound(j + 1) - bound(j)
      val mask = if (w == 64) -1L else (1L << w) - 1
      shiftright(col("simhash"), bound(j)).bitwiseAND(mask)
    }: _*)
    val banded = capBuckets(
      sigs.select(col("id"), col("simhash"),
        posexplode(bandArr).as(Seq("band", "bucket"))),
      Seq("band", "bucket"), maxBucketSize, "simhashPairs")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Sub-document (C4/Dolma-style "paragraph") dedup: split every
   * document into consecutive non-overlapping `w`-token chunks, keep
   * only the globally FIRST occurrence of each chunk (first = smallest
   * `(doc id, chunk position)`), and reassemble each document from its
   * surviving chunks in original order. On prose corpora the chunk
   * boundary is the paragraph break; the testdata documents are
   * single-line token streams, so fixed-width token windows stand in.
   *
   * Scale shape — two passes over the chunk stream, both
   * partial-aggregatable, no windows:
   *   1. `groupBy(chunk)` computing `count` + `min(struct(id, pos))`,
   *      FILTERED to `count > 1` — only *duplicated* chunks form the
   *      winners table (corpus-scale input, boilerplate-scale output;
   *      a min/count hash-agg with map-side combine, so a hot
   *      boilerplate chunk never concentrates its occurrences in one
   *      task the way a `row_number` window partition would).
   *   2. chunks JOIN winners on chunk (duplicated chunks only — AQE
   *      broadcasts the winners side when it fits), losing occurrences
   *      aggregated to a per-doc dropped-position set; each document
   *      is then rebuilt from its OWN chunk array map-side, so the
   *      chunk stream is never re-collected or re-sorted.
   *
   * Output: `(doc id, n_chunks, n_kept, clean_text)`; token-less
   * documents survive with `n_chunks = 0` and empty text.
   */
  /** Chunk array over an ALREADY-MATERIALIZED token-array column — use
    * this form inside operators so the tokenizer isn't re-run per
    * chunk position (see [[spanDedup]]'s projection-barrier note). */
  def chunksFromTokens(t: Column, w: Int): Column = {
    require(w >= 1, "chunk width must be >= 1")
    when(size(t) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), (ceil(size(t) / lit(w.toDouble)) - 1).cast("int")),
        i => concat_ws(" ", slice(t, i * w + 1, lit(w)))))
  }

  /** The `w`-token non-overlapping chunk array behind [[chunkDedup]]
    * (exposed so tests/pipelines can chunk the same way). */
  def chunkDedupChunks(text: Column, w: Int): Column =
    chunksFromTokens(TextAnalysis.tokens(text), w)

  /**
   * Exact duplicated-SPAN removal — the substring-level dedup of Lee
   * et al. 2022 ("Deduplicating Training Data Makes Language Models
   * Better"), token-granular: every occurrence of a duplicated
   * w-token window EXCEPT the corpus-wide first (min (doc, pos)) has
   * its w tokens deleted; surviving tokens are reassembled in order.
   * Unlike [[chunkDedup]]'s non-overlapping chunks, the gram stream
   * here is OVERLAPPING (one gram per token position), so a repeated
   * passage is excised wherever it starts — no chunk-alignment luck
   * required. Deterministic greedy policy: a duplicated gram's first
   * occurrence keeps its tokens only insofar as no OTHER duplicated
   * gram's non-first occurrence covers them.
   *
   * Scale shape: first-occurrence selection is the same
   * partial-aggregatable `min(struct)`/`count` hash-agg as
   * [[chunkDedup]] — a boilerplate gram occurring millions of times
   * combines map-side, never concentrating in a window task. The only
   * corpus-sized shuffle is the gram hash-agg itself: deletions are
   * aggregated to a per-doc position SET (sized by the duplicated
   * occurrences, not the corpus) and joined back doc-keyed (AQE
   * broadcasts it while small), and documents are reassembled from
   * their ORIGINAL token array map-side — the token stream is never
   * exploded, shuffled, or re-collected. Grams are keyed as strings
   * for exact oracle parity; at 100 TB key them by `xxhash64(gram)`
   * instead — same plan, 8-byte shuffle keys.
   */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                w: Int): DataFrame = {
    require(w >= 2, "span width must be >= 2")
    val arr = coalesce(TextAnalysis.tokens(col(textCol)),
      array().cast("array<string>"))
    // tokenize ONCE into a concrete column before the lambda: `arr`
    // referenced inside `transform` would re-run the regexp tokenizer
    // per gram position (O(tokens²) per doc)
    // native one-pass gram kernel; posexplode_OUTER + post-filter so
    // InferFiltersFromGenerate has nothing to re-inline into a per-row
    // scan Filter (see the chunkDedup note)
    val grams = docs.select(col(idCol).as("doc_id"),
        posexplode_outer(graft.functions.ShingleExprs
          .token_grams(col(textCol), w, overlapping = true))
          .as(Seq("pos", "gram")))
      .filter(col("gram").isNotNull)
    val winners = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("occ") > 1)
      .select(col("gram"), col("first"))
    val dels = grams.join(winners, Seq("gram"))
      .filter(!(col("first.doc_id") === col("doc_id") &&
        col("first.pos") === col("pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("delpos"))
    docs.select(col(idCol).as("doc_id"), arr.as("toks"))
      .join(dels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("delpos")), lit(0)).cast("long").as("n_removed"),
        // one-pass bitset join — the filter/array_contains HOF would be
        // O(tokens × deletions) for a heavily duplicated long document
        graft.functions.ShingleExprs
          .join_except_positions(col("toks"), col("delpos")).as("clean_text"))
  }

  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 w: Int): DataFrame = {
    // coalesce: null text must keep the documented n_chunks = 0
    // contract (the kernel, like any UnaryExpression, is null-in →
    // null-out)
    val withCh = docs.select(col(idCol).as("doc_id"),
      coalesce(graft.functions.ShingleExprs.token_grams(col(textCol), w,
          overlapping = false),
        array().cast("array<string>")).as("ch"))
    // posexplode_OUTER + cheap post-filter: plain posexplode makes
    // InferFiltersFromGenerate push a `size(ch) > 0` predicate below
    // the projections, re-inlining the whole chunk expression (with
    // its per-iteration tokenizer) into a per-row Filter on the scan
    val chunks = withCh.select(col("doc_id"),
        posexplode_outer(col("ch")).as(Seq("pos", "chunk")))
      .filter(col("chunk").isNotNull)
    val winners = chunks.groupBy(col("chunk"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("occ") > 1)
      .select(col("chunk"), col("first"))
    // losing occurrences → per-doc dropped-position set (sized by the
    // duplicated chunks, not the corpus); docs rebuilt from their own
    // chunk array map-side — the chunk stream is never re-collected
    val dels = chunks.join(winners, Seq("chunk"))
      .filter(!(col("first.doc_id") === col("doc_id") &&
        col("first.pos") === col("pos")))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("delpos"))
    withCh.join(dels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ch")).cast("long").as("n_chunks"),
        (size(col("ch")) - coalesce(size(col("delpos")), lit(0))).cast("long")
          .as("n_kept"),
        graft.functions.ShingleExprs
          .join_except_positions(col("ch"), col("delpos")).as("clean_text"))
  }

  /**
   * Group-scoped BOILERPLATE excision — the CCNet / RefinedWeb
   * "repeated lines within a domain" cleanup at w-token chunk
   * granularity: a chunk occurring in at least `minDocs` DISTINCT
   * documents of the same group (site, source, crawl host) is template
   * text (nav bars, footers, cookie banners, license blocks) and is
   * deleted from EVERY document of that group. Policy differs from
   * [[chunkDedup]] on both axes: the threshold is distinct-document
   * frequency within a group rather than any global repeat, and ALL
   * occurrences go — a template has no canonical "first owner" the way
   * a plagiarized passage does.
   *
   * Scale shape mirrors [[chunkDedup]]: the chunk array is built by the
   * one-pass native kernel in the scan stage; the frequency census is
   * two stacked hash aggregates (dedupe (grp, chunk, doc) first — a
   * doc's internal repeats combine map-side — then count), both
   * partial/final, no windows; deletions aggregate to a per-doc
   * position set sized by the BOILERPLATE occurrences only and join
   * back doc-keyed (AQE broadcasts while small); documents reassemble
   * map-side from their own chunk array via the bitset kernel. The
   * corpus text is scanned once and never re-collected. At 100 TB the
   * (grp, chunk) census keys are the only wide shuffle — key them by
   * `xxhash64` for 8-byte shuffle keys if chunk strings dominate the
   * wire (kept as strings here for exact oracle parity).
   */
  def boilerplateStrip(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, w: Int, minDocs: Int): DataFrame = {
    require(w >= 1, "chunk width must be >= 1")
    require(minDocs >= 2, "minDocs must be >= 2 (a 1-doc threshold deletes everything)")
    val withCh = docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
      coalesce(graft.functions.ShingleExprs.token_grams(col(textCol), w,
          overlapping = false),
        array().cast("array<string>")).as("ch"))
    // posexplode_OUTER + post-filter: see the chunkDedup note on
    // InferFiltersFromGenerate re-inlining the chunk kernel into a Filter
    val chunks = withCh.select(col("doc_id"), col("grp"),
        posexplode_outer(col("ch")).as(Seq("pos", "chunk")))
      .filter(col("chunk").isNotNull)
    val boiler = chunks.select(col("grp"), col("chunk"), col("doc_id")).distinct()
      .groupBy(col("grp"), col("chunk"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("grp"), col("chunk"))
    val dels = chunks.join(boiler, Seq("grp", "chunk"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("delpos"))
    withCh.join(dels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ch")).cast("long").as("n_chunks"),
        coalesce(size(col("delpos")), lit(0)).cast("long").as("n_removed"),
        graft.functions.ShingleExprs
          .join_except_positions(col("ch"), col("delpos")).as("clean_text"))
  }

  /**
   * Bounded edit-distance similarity self-join over a string column —
   * typo clustering / vocabulary canonicalization (map OCR errors and
   * misspellings onto their frequent canonical forms before token
   * statistics). Exact for `maxDist` ∈ {1, 2} via the SymSpell
   * deletion-neighborhood construction (Garbe's symmetric delete
   * algorithm): two strings within Levenshtein distance d share at
   * least one common variant reachable by ≤ d character DELETIONS from
   * each side, so candidates come from an equi-join on the deletion
   * neighborhood and only candidates pay the O(|a|·|b|) DP verify —
   * never the all-pairs product.
   *
   * Scale shape: the input reduces to its DISTINCT value table first
   * (for a text corpus that is the vocabulary, orders of magnitude
   * smaller than the corpus — the same reduction [[Bpe.learnMerges]]
   * rides); the neighborhood explode multiplies each value by
   * O(1 + L + L²/2) variants (L = string length, d = 2), the join is
   * one hash-keyed shuffle on the variant, and verification is Spark's
   * codegen'd `levenshtein`. Output carries corpus occurrence counts
   * for both sides so the caller can orient pairs typo → canonical
   * (rare → frequent).
   *
   * `maxLen` bounds the explode: values longer than it (URLs, base64
   * blobs — every web \S+ vocabulary has them, and one 500-char token
   * alone would emit multi-MB of variants) are excluded from pairing
   * with a logged count, so per-value fan-out is capped at
   * O(maxLen²/2) variants of ≤ maxLen chars. Oracles must mirror the
   * same `length(w) <= maxLen` filter.
   */
  def editDistancePairs(df: DataFrame, strCol: String,
                        maxDist: Int, maxLen: Int = 32): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      "deletion-neighborhood completeness is implemented for maxDist 1 and 2")
    require(maxLen > maxDist, "maxLen must exceed maxDist")
    val all = df.select(col(strCol).as("w"))
      .filter(col("w").isNotNull && length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    // length guard BEFORE the neighborhood explode: a value of length
    // L fans out to O(L²/2) variants of length O(L) — web-corpus \S+
    // "vocabularies" contain URLs and base64 blobs hundreds of chars
    // long, and one such token would alone emit multi-MB of variants.
    // Values over maxLen are EXCLUDED from pairing, loudly (the
    // capBuckets contract): typo clustering is a word-vocabulary
    // operation — a 200-char blob is not a typo candidate, and the
    // URL/content paths (normalizeUrl, chunk/minhash dedup) own those.
    // The vocab-scale count costs one agg over the DISTINCT table,
    // never the corpus.
    val nLong = all.filter(length(col("w")) > maxLen).count()
    if (nLong > 0)
      log.warn(s"editDistancePairs: excluding $nLong vocabulary " +
        s"value(s) longer than maxLen=$maxLen from the deletion " +
        "neighborhood; pairs involving them are not emitted")
    val vocab = all.filter(length(col("w")) <= maxLen)
    // ≤d-deletion neighborhood of `w` (includes w itself). `w` is a
    // plain attribute behind the aggregate barrier, so the lambdas
    // cannot re-inline any derivation (cf. the winnowing HOF note).
    def delete1(s: Column): Column = transform(
      sequence(lit(1), length(s)),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    val nbh1 = array_union(array(col("w")), delete1(col("w")))
    val nbh =
      if (maxDist == 1) nbh1
      else array_distinct(flatten(transform(nbh1, v =>
        array_union(array(v), delete1(v)))))
    val variants = vocab.select(col("w"), col("n"),
        explode(nbh).as("v"))
    val a = variants.select(col("v"), col("w").as("w1"), col("n").as("n1"))
    val b = variants.select(col("v"), col("w").as("w2"), col("n").as("n2"))
    a.join(b, Seq("v"))
      .filter(col("w1") < col("w2"))
      .select(col("w1"), col("w2"), col("n1"), col("n2"))
      .distinct() // many shared variants per true pair
      .withColumn("dist", levenshtein(col("w1"), col("w2")))
      .filter(col("dist") <= maxDist)
      .select(col("w1"), col("w2"), col("dist").cast("int").as("dist"),
        col("n1"), col("n2"))
  }

  /** Per-document n-gram NOVELTY under first-occurrence (min doc_id)
    * semantics — the data-curation signal for "how much of this
    * document is new text vs boilerplate already in the corpus"
    * (docs full of previously-seen shingles get novelty → 0 and are
    * dedup/downsample candidates even when no single pair crosses a
    * Jaccard threshold).
    *
    * Scale shape: three partial-aggregate shuffles and NO wide join —
    * distinct (doc, gram) pairs, per-doc gram counts, then per-gram
    * min(doc_id) re-aggregated by the winning doc. The corpus text is
    * never shuffled (only (doc_id, gram) keys; at 100 TB key grams by
    * xxhash64 instead of the string, same plan with 8-byte keys). */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   shingleWords: Int): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
        explode(coalesce(graft.functions.ShingleExprs
          .token_grams(col(textCol), shingleWords, overlapping = true),
          array().cast("array<string>"))).as("gram"))
      .distinct()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // novelty credit: each distinct gram is "novel" exactly once, for
    // its min-doc_id owner — so n_novel is a re-aggregation of the
    // per-gram winners, never a gram-keyed join back to the corpus
    val novels = sh.groupBy(col("gram")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    docs.select(col(idCol).as("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .join(novels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_grams").cast("double"), 6)).as("novelty"))
  }

  /** Near-dup cluster canonicalization by QUALITY: exact
    * prefix-filter Jaccard pairs → connected components → keep per
    * cluster the member maximizing `qualityCol` (ties → smallest
    * doc_id). This is the production dedup policy ("of N copies keep
    * the longest / highest-quality one"), vs [[dedupCorpus]]'s
    * keep-min-id.
    *
    * The (quality, −doc_id) preference packs into ONE long key
    * (q·10⁶ + (10⁶−1−doc_id)) so the winner is a single deterministic
    * `max_by` integer compare — identical in the DuckDB oracle's
    * `arg_max`. Contract: doc_id < 10⁶ and quality < 2⁶³/10⁶ (holds
    * for any bounded quality metric; re-pack with wider position bits
    * for larger id spaces).
    *
    * Scale shape: the pair list is the prefix-filter candidate stream
    * (pruned, never all-pairs), CC is the O(log n) large/small-star
    * loop above the driver threshold, and the final keep is one
    * partial-agg groupBy(component) — nothing wider than a cluster
    * ever groups. */
  def clusterKeepBest(docs: DataFrame, idCol: String, textCol: String,
                      qualityCol: String, minJaccard: Double,
                      shingleWords: Int = 3): DataFrame = {
    val pairs = prefixFilterJaccardPairs(docs, idCol, textCol, shingleWords,
      minJaccard)
    val cc = ConnectedComponents.run(pairs, "id_a", "id_b")
    val withComp = docs
      .select(col(idCol).as("doc_id"), col(qualityCol).cast("long").as("q"))
      .join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("q"),
        coalesce(col("component"), col("doc_id")).as("component"))
    val key = col("q") * lit(1000000L) + (lit(999999L) - col("doc_id"))
    withComp.groupBy(col("component"))
      .agg(max_by(col("doc_id"), key).as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("q")).as("best_q"))
  }

  /**
   * Capture–recapture population estimate (Lincoln–Petersen;
   * Chapman 1951 bias-corrected form) — "how many duplicates did we
   * MISS": run two independent detectors (exact-hash and MinHash,
   * say) over the same corpus; each catches a sample of the true
   * duplicate population, and the overlap between the catches
   * estimates the whole — N̂ = (n₁+1)(n₂+1)/(m+1) − 1, finite even
   * at zero overlap. The honest answer to "is the residual dup rate
   * low enough to stop", which neither detector's own count can
   * give.
   *
   * Independence caveat (documented, not solved): positively
   * correlated detectors (both keyed on the same shingles) bias N̂
   * LOW — pick detectors with different failure modes.
   *
   * Exact contract: n₁, n₂, m are exact longs; Chapman's N̂ and its
   * standard error se² = (n₁+1)(n₂+1)(n₁−m)(n₂−m)/((m+1)²(m+2)) are
   * fixed float dags over them (products as doubles — exact to 2⁵³;
   * the catches are sample-sized). Both-empty catches → defined =
   * false.
   *
   * Scale shape: one partial/final aggregate to |groups| rows.
   *
   * @return (byCol, n_a, n_b, n_both, n_hat, se — rounded 6,
   *         defined = n_a > 0 ∧ n_b > 0)
   */
  def captureRecapture(df: DataFrame, byCol: String, inACol: String,
                       inBCol: String): DataFrame = {
    Seq(inACol, inBCol).foreach { c =>
      require(df.schema(c).dataType ==
          org.apache.spark.sql.types.BooleanType,
        s"captureRecapture: $c must be boolean (got " +
          s"${df.schema(c).dataType.simpleString}) — a catch is a " +
          "verdict, not a score")
    }
    val a = col(inACol)
    val b = col(inBCol)
    val stats = df.filter(col(byCol).isNotNull && a.isNotNull &&
        b.isNotNull)
      .groupBy(col(byCol))
      .agg(sum(when(a, 1L).otherwise(0L)).as("n_a"),
        sum(when(b, 1L).otherwise(0L)).as("n_b"),
        sum(when(a && b, 1L).otherwise(0L)).as("n_both"))
    def d(c: Column) = c.cast("double")
    val n1 = d(col("n_a") + 1L)
    val n2 = d(col("n_b") + 1L)
    val m1 = d(col("n_both") + 1L)
    val nHat = n1 * n2 / m1 - lit(1.0)
    val se = sqrt(n1 * n2 * d(col("n_a") - col("n_both")) *
      d(col("n_b") - col("n_both")) / (m1 * m1 * (m1 + lit(1.0))))
    val defined = col("n_a") > 0 && col("n_b") > 0
    stats.select(col(byCol), col("n_a"), col("n_b"), col("n_both"),
      when(defined, round(nHat, 6)).otherwise(lit(0.0)).as("n_hat"),
      when(defined, round(se, 6)).otherwise(lit(0.0)).as("se"),
      defined.as("defined"))
  }
}
