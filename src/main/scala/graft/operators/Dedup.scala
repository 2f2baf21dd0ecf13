package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata

import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication operators for LLM-corpus curation: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the whole point — SURVEY.md §7 M4):
  *  - Exact dedup is a hash-groupBy: one shuffle on a 128-bit
  *    fingerprint, uniform by construction (no skew).
  *  - MinHash/LSH replaces the quadratic all-pairs comparison with a
  *    shuffle on (band, bucket): only colliding docs meet. All hash
  *    functions are seeded xxhash64 — deterministic, executor-
  *    independent, no fit/model state to broadcast.
  *  - Candidate verification recomputes EXACT Jaccard only on
  *    colliding pairs, so false positives cost one array intersect,
  *    and false negatives are bounded by the (bands, rows) S-curve.
  *  - Identical-content floods (the classic LSH skew: one bucket with
  *    10^6 copies of the same boilerplate) are the known hot spot:
  *    AQE skew-join handles moderate cases; `maxBucketSize` hard-caps
  *    pathological buckets (dropping a bucket of exact duplicates is
  *    safe because exact dedup runs first).
  */
object Dedup {

  /** Pluggable shingle-hash/permutation family for the MinHash
    * pipeline. The PIPELINE (canonicalize-first groups, LSH banding,
    * bucket caps, exact-Jaccard verification, membership expansion)
    * is hash-agnostic; only the two hash ingredients vary:
    *  - [[MinHashFamily.Xx]] — the hot path: native fused xxhash64
    *    expressions (ShingleHashes / MinHashSignature), zero string
    *    materialization, codegen'd. Not replayable outside the JVM.
    *  - [[MinHashFamily.Md5]] — the oracle-replayable path: the
    *    q49/q50 md5-prefix 60-bit hash ([[graft.functions
    *    .PortableHash]]), so DuckDB recomputes signatures, bands,
    *    candidates and verification bit-for-bit. ~5-10x the hash
    *    cost; used by the driver-checked twin queries, which run the
    *    SAME pipeline code with this family.
    * Both produce a sorted-distinct `array<long>` of shingle hashes
    * (what `jaccardSorted` consumes) and a length-`numHashes`
    * signature of per-permutation minima.
    */
  sealed trait MinHashFamily {
    /** Stable name recorded in index column metadata, so a live
      * index pins the family it was hashed with across restarts.
      */
    def name: String
    def shingleHashes(text: Column, n: Int): Column
    def signature(shingleHashes: Column, numHashes: Int): Column
  }
  object MinHashFamily {
    def byName(n: String): MinHashFamily = n match {
      case "xx"  => Xx
      case "md5" => Md5
      case other => throw new IllegalArgumentException(
        s"unknown MinHash family recorded in index metadata: $other")
    }
    case object Xx extends MinHashFamily {
      def name: String = "xx"
      def shingleHashes(text: Column, n: Int): Column =
        VectorFunctions.shingleHashes(text, n)
      def signature(hashes: Column, numHashes: Int): Column =
        VectorFunctions.minhashSignature(hashes, numHashes)
    }
    case object Md5 extends MinHashFamily {
      import graft.functions.PortableHash
      def name: String = "md5"
      def shingleHashes(text: Column, n: Int): Column =
        array_sort(array_distinct(transform(
          TextFunctions.shingles(text, n),
          g => PortableHash.uniform60(g))))
      // Kirsch–Mitzenmacher permutations: ONE digest pair per shingle
      // occurrence (element_at over a single-element array is the HOF
      // let-binding trick — `pairs` is evaluated once, not once per
      // permutation), then every permutation is int-only arithmetic.
      // The previous per-(occurrence, i) rehash paid numHashes digests
      // per occurrence. NOTE: still materialize the shingle-hash
      // column before calling this (project + localCheckpoint, as
      // nearDupPairs/dedupIndex do) so the shingle SCAN runs once.
      def signature(hashes: Column, numHashes: Int): Column = {
        val pairs = transform(hashes, h => array(
          PortableHash.uniform60(h.cast("string")),
          PortableHash.uniform60Tail(h.cast("string"))))
        element_at(transform(array(pairs), ps =>
          transform(sequence(lit(0), lit(numHashes - 1)), i =>
            array_min(transform(ps, p => PortableHash.permuteFrom(
              element_at(p, 1), element_at(p, 2), i))))), 1)
      }
    }
  }

  /** Repeated-substring detection (the span-level dedup building
    * block of Lee et al. 2022): every `n`-token window is hashed in
    * the scan stage — the shuffle carries 32-byte md5s, never span
    * text — and windows appearing in >= `minDocs` distinct docs
    * surface as cross-doc boilerplate. Complements nearDupPairs:
    * MinHash finds whole-doc near-dups, this finds shared SPANS
    * inside otherwise-distinct docs (licence headers, templates).
    */
  def spanDups(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 8, minDocs: Int = 2): DataFrame =
    df.select(col(idCol).as("did"),
      explode(TextFunctions.shingles(col(textCol), n)).as("span"))
      .select(col("did"), md5(col("span")).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(countDistinct(col("did")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)

  /** Asymmetric-containment pairs over the whole corpus: (small_id,
    * big_id, n_common, n_small) for every pair where at least
    * `thresholdNum`/`thresholdDen` of the SMALLER doc's distinct
    * shingles appear in the bigger doc's — the excerpt/quotation
    * detector symmetric Jaccard structurally misses (a 50-word
    * excerpt inside a 5000-word doc has Jaccard ~0.01 but containment
    * 1.0). d14 oracle-checks this measure on a toy adjacent-id
    * pairing; THIS is the operator form: candidates meet through an
    * inverted shingle index (exact — containment > 0 requires at
    * least one shared shingle), the threshold compares as pure
    * integer arithmetic (n_common * den >= num * n_small: no doubles
    * anywhere, so the whole output is cross-engine hash-exact), and
    * "small" is the side with fewer distinct shingles (ties break to
    * the smaller id).
    *
    * Scale: the inverted-index join is the sparse-similarity shape
    * (docs meet only on shared shingles, never all-pairs), but
    * corpus-frequent shingles make hot postings lists — at 100 TB
    * prune postings above a df cap the way tfidfPairs does (a shingle
    * in >maxDf docs contributes candidates that almost surely also
    * meet on a rarer shingle; recall loss is confined to pairs whose
    * EVERY shared shingle is corpus-frequent), or feed LSH candidates
    * (d03's) into the same verify kernel. The verify join carries ids
    * + shingle arrays for candidate pairs only.
    *
    * Canonicalize-first (the repo-wide flood discipline): exact-dup
    * replicas share a normText fingerprint, so the signature/prefix/
    * verify machinery runs once per DISTINCT content and membership
    * expands afterward — a k-way boilerplate flood pays the candidate
    * join ONCE, not k^2 times (the 20x replica ladder measured the
    * per-member form at 393 s where the canonical form's kernel is
    * k-invariant; only the — by definition k^2 — pair OUTPUT grows).
    * Within-group pairs are mutual full containments (n_common =
    * n_small = the group's shingle count); cross-group pairs inherit
    * the rep pair's counts because members share their rep's shingle
    * set exactly.
    */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      thresholdNum: Int = 8, thresholdDen: Int = 10,
      shingleSize: Int = 3, prefixFilter: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val members = df
      .select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .withColumn("fp", TextFunctions.fingerprint(col("txt")))
      .withColumn("rep", min(col("id")).over(w))
      .localCheckpoint()
    val reps = members.filter(col("id") === col("rep"))
      .select(col("id"), col("txt"))
    // one shingle scan feeds the inverted index AND both verify sides
    val sh = containmentShingles(reps, "txt", "id", shingleSize)
    val inv = sh.select(col("id"), explode(col("sh")).as("g"))
    // `prefixFilter = false` is the naive inverted-index join — every
    // co-shingled pair becomes a candidate. Kept (and spec-proven
    // output-identical) as the ladder baseline the prefix filter's
    // df_prefix(g)*df(g) claim is measured against; never the shape
    // to run at scale.
    val probe =
      if (prefixFilter) containmentPrefix(sh, thresholdNum, thresholdDen)
      else inv
    val cand = probe.as("a").join(inv.as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    // rep-level qualifying pairs, counts kept for BOTH sides (member
    // orientation needs them when the counts tie)
    val repPairs = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
          .as("n_common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .filter(col("n_common") * thresholdDen >=
        lit(thresholdNum.toLong) * least(col("n_a"), col("n_b")))
    val mem = members.select(col("id"), col("rep"))
    // cross-group expansion: every member of A against every member
    // of B, oriented by the reps' shingle counts (ties -> smaller id,
    // the same rule the rep-level select used)
    val cross = repPairs
      .join(mem.select(col("rep").as("id_a"), col("id").as("ma")),
        Seq("id_a"))
      .join(mem.select(col("rep").as("id_b"), col("id").as("mb")),
        Seq("id_b"))
      .select(
        when(col("n_a") < col("n_b"), col("ma"))
          .when(col("n_b") < col("n_a"), col("mb"))
          .otherwise(least(col("ma"), col("mb"))).as("small_id"),
        when(col("n_a") < col("n_b"), col("mb"))
          .when(col("n_b") < col("n_a"), col("ma"))
          .otherwise(greatest(col("ma"), col("mb"))).as("big_id"),
        col("n_common"),
        least(col("n_a"), col("n_b")).as("n_small"))
    // within-group expansion: mutual full containment at the group's
    // shingle count (groups whose shingle set is empty never pair —
    // the same size > 0 rule the scan applies)
    val within = mem
      .join(sh.select(col("id").as("rep"), size(col("sh")).cast("long")
        .as("nsh")), Seq("rep"))
      .as("x")
      .join(mem.as("y"), col("x.rep") === col("y.rep") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("small_id"), col("y.id").as("big_id"),
        col("x.nsh").as("n_common"), col("x.nsh").as("n_small"))
    cross.unionByName(within)
  }

  /** The distinct-shingle scan [[containmentPairs]] builds everything
    * from: (id, sh: sorted-distinct shingle array), localCheckpointed
    * so the index and both verify sides share one materialization.
    */
  private[graft] def containmentShingles(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      array_distinct(TextFunctions.shingles(col(textCol), shingleSize))
        .as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint()

  /** EXACT prefix filter (PPJoin's, adapted to containment): under a
    * global (df asc, g) shingle order, a pair with containment >=
    * t = num/den shares >= ceil(t * n_small) shingles, so the small
    * side's FIRST n - ceil(t*n) + 1 ordered shingles must hit the
    * other doc (pigeonhole) — joining every doc's PREFIX against the
    * full index in both directions keeps every qualifying pair while
    * collapsing the frequent-shingle blowup: per-shingle join cost
    * falls from df(g)^2 to df_prefix(g) * df(g), and df-ascending
    * ordering makes frequent shingles almost never prefix members.
    * Returns the (id, g) prefix postings; exposed for the ladder's
    * candidate-count accounting (ScaleSmoke derives both joins' exact
    * candidate multiset sizes from the df/prefix histograms without
    * running either join).
    */
  private[graft] def containmentPrefix(
      sh: DataFrame, thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val inv = sh.select(col("id"), explode(col("sh")).as("g"))
    val dfreq = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
    inv.join(dfreq, Seq("g"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .join(sh.select(col("id"), size(col("sh")).as("nsh")), Seq("id"))
      .filter(col("rk") <= col("nsh") -
        expr(s"(nsh * $thresholdNum + $thresholdDen - 1) " +
          s"div $thresholdDen") + 1)
      .select(col("id"), col("g"))
  }

  /** Exact dedup on the normalized-text fingerprint. One row per
    * distinct content: (fingerprint, keep_id = min id, n_dups).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures: (id, sig: array<bigint> length numHashes).
    * Shingle hashes are xxhash64(shingle); permutation i is
    * xxhash64(shingleHash, i) — the standard "one strong hash,
    * many seeds" construction. Docs with fewer than `shingleSize`
    * tokens get a null signature (excluded from LSH).
    */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, shingleSize: Int = 3,
      hasher: MinHashFamily = MinHashFamily.Xx): DataFrame = {
    // Both Xx stages are native fused expressions (ShingleHashes,
    // MinHashSignature); the equivalent HOF composition allocates a
    // string per shingle and an array per permutation -- ~30x slower.
    val hashes = hasher.shingleHashes(col(textCol), shingleSize)
    val sig = when(size(hashes) > 0,
      hasher.signature(hashes, numHashes))
    df.select(col(idCol).as("id"), sig.as("sig"))
  }

  /** Md5-family signatures, direct fold — the scale shape for the
    * portable family. History, because the shape moved twice: the
    * original per-(occurrence, permutation) rehash paid numHashes
    * digests per shingle occurrence, so round 9 first introduced a
    * DISTINCT-hash permutation table (each permutation computed once
    * per distinct hash, joined back to the postings — two extra
    * exchanges to avoid tens of millions of digests). The
    * Kirsch–Mitzenmacher family ([[graft.functions.PortableHash
    * .permuteFrom]]) then collapsed the per-occurrence digest cost to
    * TWO digests total (one pair, every permutation int-only), which
    * flips the trade back: hashing every occurrence directly is now
    * cheaper than the distinct shuffle + join it was dodging — at
    * fixture scale AND at 100 TB, where the distinct table is
    * corpus-linear (web-scale shingle vocabularies keep growing) and
    * its exchange carries the same posting volume the direct form
    * folds map-side.
    *
    * Shape: explode postings, derive the (h1, h2) digest pair per
    * occurrence in the same map, fold `numHashes` plain `min`
    * aggregates of the KM permutations (whole-stage codegen,
    * map-side partial agg — postings reach the ONE exchange already
    * reduced to <= |keys| x numHashes). Zero joins. The `min` fold
    * rather than the MinHashUnion UDAF: identical monoid math, but a
    * typed Aggregator pays per-row encoder trips that dominate at
    * posting granularity (measured 3x on d10). MinHashUnion stays
    * the right tool one level up, where rows are already signatures
    * (d08's doc -> source fold).
    *
    * Returns (`key`, sig) for keys with at least one shingle;
    * callers needing null-sig rows left-join it back.
    */
  private[graft] def md5Signatures(
      hashed: DataFrame, key: String, numHashes: Int): DataFrame = {
    import graft.functions.PortableHash
    val ex = hashed.select(col(key), explode(col("shset")).as("h"))
      .select(col(key),
        PortableHash.uniform60(col("h").cast("string")).as("h1"),
        PortableHash.uniform60Tail(col("h").cast("string")).as("h2"))
    val mins = (0 until numHashes)
      .map(i => min(PortableHash.permuteFrom(col("h1"), col("h2"),
        lit(i))).as(s"m$i"))
    ex.groupBy(col(key))
      .agg(mins.head, mins.tail: _*)
      .select(col(key),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: explode each signature into `bands` bucket keys;
    * docs sharing any (band, bucket) are candidates. r = sigLen/bands
    * rows per band controls the similarity S-curve.
    */
  def lshBuckets(sigs: DataFrame, bands: Int, numHashes: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    sigs.filter(col("sig").isNotNull).select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r))))))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Total row count of a frame whose analyzed plan is a ROOT
    * LocalRelation (the micro-batch driver-path frames), else None —
    * free (no job), and an upper bound on ANY per-bucket occupancy,
    * which is what the cap-skip fast paths below rest on.
    */
  private[graft] def localRowCount(df: DataFrame): Option[Long] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(l.data.length.toLong)
      case _ => None
    }

  /** Candidate pairs (a < b) from bucket collisions. `maxBucketSize`
    * drops pathological buckets (see scaladoc above). `skipCap = true`
    * asserts the CALLER proved no bucket can exceed the cap (e.g. the
    * whole input has <= maxBucketSize rows — bucket occupancy is
    * bounded by total rows), making the occupancy agg + semi-join a
    * provable no-op: skipping them drops one shuffle + one broadcast
    * build from every micro-batch's within-batch leg.
    */
  def candidatePairs(
      buckets: DataFrame, maxBucketSize: Int = 1000,
      skipCap: Boolean = false,
      materialize: DataFrame => DataFrame = _.localCheckpoint())
      : DataFrame = {
    // Materialize the bucket table once (localCheckpoint): three
    // consumers follow (size agg, join left, join right) and each
    // would otherwise recompute the full signature subtree. The cap
    // itself is a hash-agg + semi-join on small buckets — one
    // map-side-combinable pass, no per-partition sort (a window
    // count would sort the whole exploded table). A micro-batch
    // caller over already-local/materialized inputs passes identity
    // (the explode is a cheap projection there).
    val b = materialize(buckets)
    val sized =
      if (skipCap) b
      else {
        val okBuckets = b.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bsize"))
          .filter(col("bsize") <= maxBucketSize)
          .select("band", "bucket")
        b.join(okBuckets, Seq("band", "bucket"), "left_semi")
      }
    val l = sized.select(col("band"), col("bucket"), col("id").as("id_a"))
    val rt = sized.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(rt, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact token-shingle Jaccard for given pairs; used to verify LSH
    * candidates. Joins the (small) pair list to per-doc shingle sets.
    */
  def verifyJaccard(
      pairs: DataFrame, df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3): DataFrame = {
    // Jaccard over distinct shingle HASHES == Jaccard over shingle
    // strings (collisions ~2^-64); sorted long arrays intersect fast.
    val sets = df.select(col(idCol).as("vid"),
      VectorFunctions.shingleHashes(col(textCol), shingleSize).as("shset"))
    pairs
      .join(sets.withColumnRenamed("vid", "id_a")
        .withColumnRenamed("shset", "set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("vid", "id_b")
        .withColumnRenamed("shset", "set_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // fused linear merge over the sorted hash arrays (no hash-set
        // array_intersect, no intermediate array)
        VectorFunctions.jaccardSorted(col("set_a"), col("set_b"))
          .as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: deterministic verified pairs
    * with exact Jaccard >= threshold.
    *
    * Canonicalize-first design (the 100 TB shape): exact duplicates
    * are grouped by fingerprint up front, the LSH + verification
    * stages run over ONE REPRESENTATIVE per distinct content, and
    * verified rep-rep pairs are expanded back through group
    * membership. Consequences:
    *  - a k-way duplicate flood costs O(k) (star pairs + one rep in
    *    LSH), never k^2 bucket pairs or k^2 verification joins — at
    *    20x corpus replication this is the difference between 68 s
    *    and a few seconds (tools/ScaleSmoke);
    *  - fingerprint-equal docs (case/whitespace variants) are treated
    *    as one content: within a group, pairs are emitted in star
    *    form (keep, member, 1.0); cross-group member pairs inherit
    *    the representatives' Jaccard;
    *  - `expandGroups = false` skips materializing cross-group member
    *    pairs and returns star + rep pairs only — the SAME connected
    *    components (what keep-set pipelines consume) at a fraction of
    *    the output: a 20x-replicated corpus emits 32M expanded
    *    simhash pairs vs ~200k compact ones.
    */
  def nearDupPairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      expandGroups: Boolean = true,
      hasher: MinHashFamily = MinHashFamily.Xx): DataFrame = {
    // (did, keep) is consumed by THREE subtrees (star pairs, rep
    // filter, membership expansion); materialize the window result
    // once — measured: without this the fingerprint+window subtree
    // is physically evaluated five times (no ReusedExchange fires).
    val groups = df
      .select(col(idCol).as("did"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .withColumn("keep", min(col("did")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .select(col("did"), col("keep"))
      .localCheckpoint()
    val exactPairs = groups.filter(col("did") =!= col("keep"))
      .select(col("keep").as("id_a"), col("did").as("id_b"),
        lit(1.0).as("jaccard"))
    val reps = df.join(
      groups.filter(col("did") === col("keep"))
        .select(col("did").as(idCol)),
      Seq(idCol), "left_semi")
    // Shingle-hash each rep ONCE: the same sorted hash array feeds
    // both the MinHash signature and the exact-Jaccard verification
    // (minhashSignatures + verifyJaccard would each re-scan and
    // re-hash the corpus).
    val hashed = reps.select(col(idCol).as("id"),
      hasher.shingleHashes(col(textCol), shingleSize).as("shset"))
      .localCheckpoint()
    // Xx: map-only native signature expression, cheap enough to
    // recompute per band slice. Md5: the distinct-hash permute-table
    // form (one md5 per (distinct shingle, permutation), not per
    // occurrence), materialized once for lshBuckets' band slices.
    val sigs =
      if (hasher == MinHashFamily.Xx)
        hashed.select(col("id"),
          when(size(col("shset")) > 0,
            hasher.signature(col("shset"), numHashes)).as("sig"))
      else md5Signatures(hashed, "id", numHashes).localCheckpoint()
    val cands = candidatePairs(lshBuckets(sigs, bands, numHashes),
      maxBucketSize)
    val repPairs = cands
      .join(hashed.select(col("id").as("id_a"), col("shset").as("set_a")),
        Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("shset").as("set_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.jaccardSorted(col("set_a"), col("set_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // rep ids ARE the groups' keep ids: expand through membership
    val pairsOut =
      if (!expandGroups) repPairs // star + rep pairs: same connectivity
      else {
        val members = groups.select(col("keep"), col("did"))
        repPairs
          .join(members.select(col("keep").as("id_a"), col("did").as("m_a")),
            Seq("id_a"))
          .join(members.select(col("keep").as("id_b"), col("did").as("m_b")),
            Seq("id_b"))
          .select(least(col("m_a"), col("m_b")).as("id_a"),
            greatest(col("m_a"), col("m_b")).as("id_b"), col("jaccard"))
      }
    pairsOut.unionByName(exactPairs)
      .groupBy("id_a", "id_b").agg(max(col("jaccard")).as("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, banded into
    * `bands` segments for candidate generation (two docs within
    * hamming distance < bands must agree on >= 1 segment), verified
    * with bit_count(a^b) <= maxHamming.
    *
    * Canonicalize-first like `nearDupPairs`: identical content would
    * otherwise saturate every segment bucket k^2-wise; the banded
    * self-join runs over one representative per fingerprint group,
    * star pairs (hamming 0) cover within-group, and rep pairs expand
    * through membership.
    */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, bands: Int = 4,
      expandGroups: Boolean = true): DataFrame = {
    val groups = df
      .select(col(idCol).as("did"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .withColumn("keep", min(col("did")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .select(col("did"), col("keep"))
      .localCheckpoint() // 3 consumers; see nearDupPairs
    val exactPairs = groups.filter(col("did") =!= col("keep"))
      .select(col("keep").as("id_a"), col("did").as("id_b"),
        lit(0).as("hamming"))
    val reps = df.join(
      groups.filter(col("did") === col("keep"))
        .select(col("did").as(idCol)),
      Seq(idCol), "left_semi")
    val h = reps.select(col(idCol).as("id"),
      VectorFunctions.simhash64(TextFunctions.tokens(col(textCol))).as("sh"))
    val seg = 64 / bands
    // bands is a static small int: unroll the segment extraction into
    // a literal array of (band, segval) structs.
    val segs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), b * seg)
          .bitwiseAND(lit((1L << seg) - 1)).as("segval"))
    }
    val exploded = h.select(col("id"), col("sh"),
      explode(array(segs: _*)).as("s"))
      .select(col("id"), col("sh"), col("s.band").as("band"),
        col("s.segval").as("segval"))
    val l = exploded.select(col("band"), col("segval"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val rt = exploded.select(col("band"), col("segval"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    val repPairs = l.join(rt, Seq("band", "segval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    // expand rep-rep pairs to member pairs; hamming 0 within groups
    val pairsOut =
      if (!expandGroups) repPairs
      else {
        val members = groups.select(col("keep"), col("did"))
        repPairs
          .join(members.select(col("keep").as("id_a"), col("did").as("m_a")),
            Seq("id_a"))
          .join(members.select(col("keep").as("id_b"), col("did").as("m_b")),
            Seq("id_b"))
          .select(least(col("m_a"), col("m_b")).as("id_a"),
            greatest(col("m_a"), col("m_b")).as("id_b"), col("hamming"))
      }
    pairsOut.unionByName(exactPairs)
      .groupBy("id_a", "id_b").agg(min(col("hamming")).as("hamming"))
  }

  /** Generic banded hamming self-join over ANY 64-bit hash column —
    * the simhashPairs core, decoupled from text so other modalities
    * (image perceptual hashes, audio fingerprints) reuse it. Pairs
    * (id_a < id_b) with bit_count(h_a ^ h_b) <= maxHamming; the
    * segment guarantee needs maxHamming < bands.
    *
    * Canonicalize-first on the hash VALUE: identical hashes (exact
    * duplicate floods) cost O(k) star pairs + one rep in the banded
    * join, never k^2 bucket pairs.
    */
  def hammingPairs64(
      hashes: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bands: Int = 8,
      expandGroups: Boolean = true): DataFrame = {
    require(maxHamming < bands, "segment guarantee needs maxHamming < bands")
    require(64 % bands == 0, "bands must divide 64")
    val groups = hashes
      .filter(col(hashCol).isNotNull)
      .select(col(idCol).as("did"), col(hashCol).as("sh"))
      .withColumn("keep", min(col("did")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .localCheckpoint() // 3 consumers; see nearDupPairs
    val exactPairs = groups.filter(col("did") =!= col("keep"))
      .select(col("keep").as("id_a"), col("did").as("id_b"),
        lit(0).as("hamming"))
    val reps = groups.filter(col("did") === col("keep"))
      .select(col("did").as("id"), col("sh"))
    val seg = 64 / bands
    val segs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), b * seg)
          .bitwiseAND(lit((1L << seg) - 1)).as("segval"))
    }
    val exploded = reps.select(col("id"), col("sh"),
      explode(array(segs: _*)).as("s"))
      .select(col("id"), col("sh"), col("s.band").as("band"),
        col("s.segval").as("segval"))
    val l = exploded.select(col("band"), col("segval"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val rt = exploded.select(col("band"), col("segval"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    val repPairs = l.join(rt, Seq("band", "segval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val pairsOut =
      if (!expandGroups) repPairs
      else {
        val members = groups.select(col("keep"), col("did"))
        repPairs
          .join(members.select(col("keep").as("id_a"), col("did").as("m_a")),
            Seq("id_a"))
          .join(members.select(col("keep").as("id_b"), col("did").as("m_b")),
            Seq("id_b"))
          .select(least(col("m_a"), col("m_b")).as("id_a"),
            greatest(col("m_a"), col("m_b")).as("id_b"), col("hamming"))
      }
    pairsOut.unionByName(exactPairs)
      .groupBy("id_a", "id_b").agg(min(col("hamming")).as("hamming"))
  }

  /** Embedding-cosine near-dup pairs via multi-table hyperplane-LSH
    * bucketing + exact verification: vectors sharing a bucket in ANY
    * of the `tables` signature tables are compared, then filtered on
    * true cosine >= threshold. Tune `bits` to corpus size (bucket
    * occupancy ~ n/2^bits) and `tables` to the recall target
    * 1-(1-p^bits)^tables, where p = 1 - theta/pi for the threshold's
    * angle.
    *
    * Scale policy (the knobs are NOT size-free): at n vectors set
    * bits ≈ log2(n / targetBucketOccupancy) so per-bucket pair work
    * stays constant as the corpus grows, and recover recall by
    * raising `tables` (cost is linear in tables; pair work is
    * quadratic in occupancy). This trade is cheap at real NEAR-DUP
    * thresholds (cosine ≥ 0.9 keeps p^bits large); loose thresholds
    * like the fixture's 0.35 need few bits by nature. Whatever the
    * knobs, `maxBucketSize` hard-bounds worst-case work and the
    * identical-vector bypass keeps true duplicate floods O(n).
    */
  def embeddingDupPairs(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, bits: Int = 4, tables: Int = 12,
      dim: Int = 64, maxBucketSize: Int = 10000,
      expandGroups: Boolean = true): DataFrame = {
    val groups = vecGroups(df, vecCol, idCol)
    val reps = groups.filter(col("did") === col("keep"))
      .select(col("did").as("id"), col("vec"))
    // ids only through the (wide, exploded) bucket self-join — the
    // vectors would multiply the shuffle width by tables x dim floats;
    // they are re-joined once per side on the (small) distinct pair set
    val sigd = reps.select(col("id"),
      posexplode(VectorFunctions.hyperplaneSigs(col("vec"), bits, tables, dim)))
      .select(col("id"), col("pos").as("table"), col("col").as("bucket"))
      .localCheckpoint() // 3 consumers below; don't recompute signatures
    val okBuckets = sigd.groupBy(col("table"), col("bucket"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") <= maxBucketSize)
      .select("table", "bucket")
    val sized = sigd.join(okBuckets, Seq("table", "bucket"), "left_semi")
    val l = sized.select(col("table"), col("bucket"), col("id").as("id_a"))
    val rt = sized.select(col("table"), col("bucket"), col("id").as("id_b"))
    val cand = l.join(rt, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyExpand(groups, reps, cand, threshold, expandGroups)
  }

  /** Persisted embedding-dedup index — the vector twin of
    * [[dedupIndex]]: one row per vector with its vec-group
    * representative (`keep` = min id over identical vectors) and,
    * for REPRESENTATIVES only, the hyperplane-LSH signature array.
    * Signatures are seeded deterministic hashes of the vector alone,
    * so an index written last month and a batch signed today agree
    * on buckets by construction — the "index is just a column"
    * property that makes the append path work with no model state.
    * Write once at ingest; probe with [[incrementalVecDups]].
    *
    * Index-format note: the (keep, rep-only sigs) layout replaced an
    * earlier all-rows-signed layout; indexes written by that layout
    * lack `keep` and must be rebuilt (one call over the stored
    * vectors) — probing them fails loudly on the missing column.
    * The (bits, tables, dim) the signatures were computed with are
    * recorded as metadata on the `sigs` column (parquet round-trips
    * StructField metadata), so a probe with drifted parameters fails
    * loudly instead of silently landing in disjoint buckets.
    *
    * Depth headroom for ONLINE per-bucket refinement: signatures are
    * stored at `sigBits` planes per table (default 16), not the
    * `bits` the BASE buckets use. hyperplaneSig packs plane p at bit
    * position p, so the low `bits` bits of a deep signature ARE the
    * base bucket — the layout is a strict extension, and a bucket
    * that grows past the probe's cap can be subdivided to any depth
    * <= sigBits as a pure projection of stored state (mask more low
    * bits), never a re-signing. This is the vector analog of
    * TableSync's linear-hash split headroom: the frozen-granularity
    * failure mode (buckets silently cap-dropped as the corpus grows)
    * becomes bounded per-bucket refinement instead. Legacy indexes
    * (no `graft.lsh.sigbits` metadata) have sigBits == bits and keep
    * the old cap-drop behavior — probe still works, refinement is
    * just unavailable until a rebuild.
    */
  def vecDedupIndex(
      df: DataFrame, vecCol: String, idCol: String,
      bits: Int = 4, tables: Int = 12, dim: Int = 64,
      sigBits: Int = 16): DataFrame = {
    require(sigBits >= bits && sigBits <= 63,
      s"sigBits must be in [bits, 63], got $sigBits (bits = $bits)")
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.lsh.bits", bits.toLong)
      .putLong("graft.lsh.tables", tables.toLong)
      .putLong("graft.lsh.dim", dim.toLong)
      .putLong("graft.lsh.sigbits", sigBits.toLong)
      .build()
    // Canonicalize at BUILD time (the one shuffle the index pays,
    // once): identical vectors collapse to a keep = min-id group, and
    // signatures are materialized for REPRESENTATIVES only. Probing
    // then works rep-level — a k-way duplicate flood in the corpus
    // contributes ONE row to every bucket instead of k (the
    // embeddingDupPairs canonicalize-first discipline, persisted).
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull &&
        exists(col("vec"), v => v =!= lit(0.0f)))
      .withColumn("keep", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec"))))
      .select(col("id"), col("vec"), col("keep"),
        when(col("id") === col("keep"),
          VectorFunctions.hyperplaneSigs(col("vec"), sigBits, tables, dim))
          .as("sigs", md))
  }

  /** Dedup an append batch of vectors against a persisted
    * [[vecDedupIndex]] — the embedding-side daily-append contract
    * (d10's shape): the corpus index STREAMS (it is never shuffled,
    * sorted, or re-signed), the small batch broadcasts into bucket
    * probing and verification, and batch-internal dups come from the
    * ordinary self-join path. Returns (id_a, id_b, cosine) with
    * id_a < id_b, every pair exact-cosine verified.
    *
    * Growth contract: base buckets that blow past `maxBucketSize` as
    * the corpus grows are NOT silently dropped (the frozen-granularity
    * recall decay TableSync's splits fixed for storage) — they refine
    * to a deeper prefix of the STORED signature, derived per probe
    * from the index's own occupancy, so candidate work per bucket
    * stays ~maxBucketSize across unbounded growth while near-dup
    * recall inside the refined bucket holds (near-identical vectors
    * agree on deeper planes with the same per-bit probability). Only
    * a tight cluster that no depth separates — an inherently
    * quadratic pair set — still hits the cap, now at the refined
    * level.
    */
  def incrementalVecDups(
      index: DataFrame, newVecs: DataFrame, vecCol: String, idCol: String,
      threshold: Double, bits: Int = 4, tables: Int = 12,
      dim: Int = 64, maxBucketSize: Int = 10000): DataFrame = {
    // build the batch's own index at the CORPUS index's stored
    // GEOMETRY — all of it, not just the signature depth: both sides
    // must derive keys from the same (bits, tables, dim) plane
    // sequence (the batch side regenerates it deterministically from
    // splitmix64 plan arithmetic), or the batch probes buckets the
    // stored rows never landed in and pairs silently vanish. Hand off
    // to the index-to-index form — batch vectors are signed exactly
    // once. Legacy indexes without the metadata keep the passed knobs.
    val sigBits = indexSigBits(index, bits)
    def stored(key: String, passed: Int): Int =
      index.schema.fields.find(_.name == "sigs")
        .filter(_.metadata.contains(key))
        .map(_.metadata.getLong(key).toInt).getOrElse(passed)
    // the degrade path is LOUD (r15 verdict): a metadata-stripped
    // index silently assuming drifted knobs reproduces exactly the
    // incommensurable-space pair loss the param freeze kills
    if (index.schema.fields.exists(f => f.name == "sigs" &&
        !f.metadata.contains("graft.lsh.bits")))
      println("[Dedup] vec index carries no stored geometry metadata " +
        s"(legacy or metadata-stripped); assuming the passed knobs " +
        s"(bits=$bits, tables=$tables, dim=$dim; signature depth = " +
        "bits) — if the index was signed under different knobs, " +
        "cross-boundary pairs are silently lost; rebuild the index " +
        "to freeze its geometry")
    val eBits = stored("graft.lsh.bits", bits)
    val eTables = stored("graft.lsh.tables", tables)
    val eDim = stored("graft.lsh.dim", dim)
    val batchIdx = vecDedupIndex(newVecs, vecCol, idCol, eBits, eTables,
      eDim, sigBits).localCheckpoint()
    incrementalVecPairs(index, batchIdx, threshold, eBits, eTables,
      eDim, maxBucketSize)
  }

  /** Stored-or-default physical signature depth of an index (also
    * validates it IS an index). Legacy indexes (no sigbits metadata)
    * stored exactly the base bucket, so their depth is `bits`.
    */
  private def indexSigBits(index: DataFrame, bits: Int): Int = {
    val sigsField = index.schema.fields.find(_.name == "sigs").getOrElse(
      throw new IllegalArgumentException(
        "index has no `sigs` column — not a vecDedupIndex (rebuild it)"))
    if (sigsField.metadata.contains("graft.lsh.sigbits"))
      sigsField.metadata.getLong("graft.lsh.sigbits").toInt
    else bits
  }

  /** [[incrementalVecDups]] with BOTH sides as prebuilt
    * [[vecDedupIndex]] frames — the signatures-computed-exactly-once
    * entry (the text side's `pairsFromIndex` discipline transplanted;
    * VecDedupSync consumes the batch index for the probe AND the
    * index append, so batch vectors are signed once per micro-batch).
    */
  def incrementalVecPairs(
      index: DataFrame, batchIdx: DataFrame,
      threshold: Double, bits: Int = 4, tables: Int = 12,
      dim: Int = 64, maxBucketSize: Int = 10000,
      occOverride: Option[Map[(Int, Long), Long]] = None,
      candOverride: Option[DataFrame] = None,
      materialize: DataFrame => DataFrame = _.localCheckpoint())
      : DataFrame = {
    // Rep-level end to end: identical vectors on BOTH sides collapse
    // to one probe each (index reps are stored — see vecDedupIndex;
    // batch reps come from the same canonicalization), so candidate
    // volume tracks DISTINCT content, not flood size — a
    // 20x-replicated corpus probes like the base corpus. Member pairs
    // expand afterwards through the two membership tables with the
    // rep pair's exact cosine (identical vectors => identical cosine).
    //
    // candOverride: a caller that already derived the candidate rep
    // pairs — VecDedupSync's streaming probe, which computes them from
    // the VecLog sidecar's quantized rows with the true (complete-
    // count) cap applied and a sound upper-bound prefilter — passes
    // them here and the bucket re-derivation is skipped entirely.
    // Sound as long as the override is sandwiched between the
    // verified-pair set and vecCandidates' output: pairs it drops
    // must be provably below threshold (the prefilter's contract),
    // pairs it adds are killed by the exact-cosine filter below.
    val cand = candOverride.getOrElse(
      vecCandidates(index, batchIdx, bits, tables, dim,
        maxBucketSize, occOverride))
    val newGroups = batchIdx
      .select(col("id").as("did"), col("vec"), col("keep"))
    val newIdx = batchIdx.filter(col("id") === col("keep"))
      .select(col("id"), col("vec"), col("sigs"))
    val ixReps = index.filter(col("id") === col("keep"))
    val lshRepPairs = ixReps
      .select(col("id").as("ix_rep"), col("vec").as("v_a"))
      .join(broadcast(cand), Seq("ix_rep"))
      .join(broadcast(newIdx.select(col("id").as("n_rep"),
        col("vec").as("v_b"))), Seq("n_rep"))
      .select(col("ix_rep"), col("n_rep"),
        VectorFunctions.cosineSim(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    // Cap-exempt exact path across the boundary: a batch vector
    // byte-identical to an indexed one is a GUARANTEED duplicate
    // (cosine 1.0 by construction), but its LSH candidates pass
    // through the maxBucketSize cap above — a flood of near-identical
    // DISTINCT indexed vectors could saturate every bucket its rep
    // sits in and silently drop it. Mirror verifyExpand's exact-star
    // bypass: join reps on vector equality, cap-free. The index
    // still streams; the batch-rep side broadcasts.
    val exactBoundary = ixReps
      .select(col("id").as("ix_rep"), col("vec"))
      .join(broadcast(newIdx.select(col("id").as("n_rep"), col("vec"))),
        Seq("vec"))
      .select(col("ix_rep"), col("n_rep"), lit(1.0).as("cosine"))
    // small (rep pairs), feeding the expansion's broadcast below.
    // `materialize` defaults to an eager checkpoint (batch callers);
    // a micro-batch caller whose inputs are already cached/local
    // passes identity and the whole pair tree materializes in the
    // one pairs-write job instead of paying a barrier here.
    val repPairs = materialize(lshRepPairs.unionByName(exactBoundary)
      .groupBy(col("ix_rep"), col("n_rep"))
      .agg(max(col("cosine")).as("cosine")))
    // expansion: index members stream once against the broadcast rep
    // pairs; batch members are driver-small
    val crossPairs = index
      .select(col("keep").as("ix_rep"), col("id").as("m_a"))
      .join(broadcast(repPairs), Seq("ix_rep"))
      .join(broadcast(newGroups.select(col("keep").as("n_rep"),
        col("did").as("m_b"))), Seq("n_rep"))
      // a replayed/duplicate-ingested id appears on BOTH sides of the
      // boundary (index member and batch member of the same content):
      // drop the degenerate self-pair the expansion would emit
      .filter(col("m_a") =!= col("m_b"))
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col("cosine"))
    // identical-content pairs ACROSS the boundary are covered by the
    // cap-exempt exactBoundary leg above (not just by LSH bucket
    // luck), so they expand through the same membership machinery.
    crossPairs
      .unionByName(vecPairsFromIndex(batchIdx, threshold, bits, tables,
        dim, maxBucketSize))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cosine")).as("cosine"))
  }

  /** Unverified candidate rep pairs (ix_rep, n_rep) of a batch index
    * probed against a corpus index — the bucketing half of
    * [[incrementalVecPairs]], exposed so the refinement ladder can
    * measure candidate volume directly. Validates both sides'
    * signature parameters.
    */
  /** The refinement-depth map from an occupancy map: overfull buckets
    * get base bits + the exact integer log2 of the overflow ratio,
    * capped at the stored depth. ONE implementation shared by the
    * aggregate path and the counter path — the pruned probe's
    * equivalence rests on both deriving identical maps from identical
    * counts.
    */
  private[graft] def refineDepths(occ: Map[(Int, Long), Long],
      maxBucketSize: Int, bits: Int, sigBits: Int)
      : Map[(Int, Long), Int] =
    occ.collect { case ((t, b), n) if n > maxBucketSize =>
      val ratio = (n + maxBucketSize - 1) / maxBucketSize
      val extra = 64 - java.lang.Long.numberOfLeadingZeros(ratio - 1)
      (t, b) -> math.min(sigBits, bits + extra.toInt)
    }.toMap

  private[graft] def vecCandidates(
      index: DataFrame, batchIdx: DataFrame,
      bits: Int = 4, tables: Int = 12, dim: Int = 64,
      maxBucketSize: Int = 10000,
      occOverride: Option[Map[(Int, Long), Long]] = None): DataFrame = {
    // Fail loudly on parameter drift: signatures computed with
    // different (bits, tables, dim) land in disjoint buckets and the
    // probe would silently return near-zero recall. Indexes written
    // by vecDedupIndex carry the parameters as sigs-column metadata;
    // a legacy index without it is at least arity-checked below.
    val sigsField = index.schema.fields.find(_.name == "sigs").getOrElse(
      throw new IllegalArgumentException(
        "index has no `sigs` column — not a vecDedupIndex (rebuild it)"))
    val meta = sigsField.metadata
    if (meta.contains("graft.lsh.bits")) {
      val stored = (meta.getLong("graft.lsh.bits"),
        meta.getLong("graft.lsh.tables"), meta.getLong("graft.lsh.dim"))
      require(stored == ((bits.toLong, tables.toLong, dim.toLong)),
        s"vecDedupIndex was built with (bits, tables, dim) = $stored " +
          s"but probed with (${(bits, tables, dim)}) — buckets would be " +
          "disjoint and recall near zero; rebuild the index or probe " +
          "with the stored parameters")
    }
    // physical signature depth: new indexes store refinement headroom
    // (sigBits > bits) and record it; legacy indexes stored exactly
    // the base bucket, so their depth IS bits and refinement below
    // degenerates to the old cap-drop behavior. The two sides must
    // have been signed at the same depth.
    val sigBits = indexSigBits(index, bits)
    require(indexSigBits(batchIdx, bits) == sigBits,
      s"batch index signed at depth ${indexSigBits(batchIdx, bits)} " +
        s"but the corpus index stores depth $sigBits — refined keys " +
        "would diverge; build the batch index at the stored depth")
    val newIdx = batchIdx.filter(col("id") === col("keep"))
      .select(col("id"), col("sigs"))
    def buckets(d: DataFrame) =
      d.select(col("id"), posexplode(col("sigs")))
        .select(col("id"), col("pos").as("table"), col("col").as("sig"),
          col("col").bitwiseAND(lit((1L << bits) - 1)).as("bucket"))
    // legacy (pre-metadata) index: enforce signature arity per rep
    // row — catches tables-drift at probe time instead of returning
    // empty joins; bits/dim drift on a legacy index is unverifiable,
    // which is why new indexes carry the metadata
    val ixReps = {
      val base = index.filter(col("id") === col("keep"))
      if (meta.contains("graft.lsh.bits")) base
      else base.withColumn("sigs",
        when(assert_true(size(col("sigs")) === tables,
          lit(s"legacy vecDedupIndex: size(sigs) != tables=$tables — " +
            "probe parameter drift; rebuild the index")).isNull,
          col("sigs")))
    }
    // NOT checkpointed: unlike embeddingDupPairs (whose signatures
    // are freshly computed), the index's sigs are STORED — the
    // explode is a cheap projection, and pinning an index-sized
    // bucket table in block storage would contradict the streaming
    // contract and break recompute-on-executor-loss
    val ixBuckets = buckets(ixReps)
    // ONLINE PER-BUCKET REFINEMENT instead of cap-drop: a base bucket
    // whose occupancy exceeds maxBucketSize is subdivided by masking
    // additional stored signature bits — depth grows with log2 of the
    // overflow ratio, capped at the stored sigBits. The refinement map
    // is driver-collected BY CONSTRUCTION bounds: the occupancy agg
    // emits at most tables x 2^bits rows (parameters, never data) and
    // the map keeps only the overfull ones. Deterministic from the
    // committed index content alone, so a crash replay derives the
    // same map and the same pairs (the deterministic-name idempotence
    // discipline). When no bucket is overfull — the common case — the
    // map is empty and the candidate join runs with NO cap semi-join
    // at all (one agg job replaces the old always-on okBuckets pass).
    // A caller holding EXACT occupancy counters (VecDedupSync's
    // incrementally-maintained OccStats — by contract equal to this
    // aggregate over the same index) passes them via occOverride and
    // the agg is skipped: with a PRUNED index frame the aggregate
    // would undercount, and without one it is the last whole-index
    // pass in the probe.
    val overfull: Map[(Int, Long), Int] = occOverride match {
      case Some(occ) => refineDepths(occ, maxBucketSize, bits, sigBits)
      case None => refineDepths(
        ixBuckets.groupBy(col("table"), col("bucket"))
          .agg(count(lit(1)).as("bsize"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap,
        maxBucketSize, bits, sigBits)
    }
    // refined key = sig masked to the bucket's depth. Depth is a
    // function of (table, base bucket), so equal keys imply equal
    // depth — joining on (table, key) alone is sound.
    def refineKey(d: DataFrame) =
      if (overfull.isEmpty) d.withColumn("key", col("bucket"))
      else {
        val spark0 = d.sparkSession
        import spark0.implicits._
        val m = overfull.toSeq
          .map { case ((t, b), dep) => (t, b, dep) }
          .toDF("table", "bucket", "depth")
        d.join(broadcast(m), Seq("table", "bucket"), "left")
          .withColumn("key", col("sig").bitwiseAND(
            expr("shiftleft(CAST(1 AS BIGINT), " +
              s"coalesce(depth, $bits)) - 1")))
          .drop("depth")
      }
    val ixRef = refineKey(ixBuckets)
    // the cap survives as the REFINED-bucket backstop: a tight
    // cluster of > maxBucketSize mutually-near (distinct) vectors
    // agrees on every deeper plane too, so no depth separates it —
    // its pair set is inherently quadratic and stays bounded-dropped
    // (the candidate list below is BROADCAST; it must stay small).
    // Diverse overflow — the growth case — separates under the deeper
    // mask and passes. The agg shuffles only (table, key, count)
    // triples, never vectors; skipped entirely when nothing refined
    // and the base occupancies are all within cap.
    val capped =
      if (overfull.isEmpty) ixRef
      else {
        val okRefined = ixRef.groupBy(col("table"), col("key"))
          .agg(count(lit(1)).as("bsize"))
          .filter(col("bsize") <= maxBucketSize)
          .select("table", "key")
        ixRef.join(okRefined, Seq("table", "key"), "left_semi")
      }
    capped
      .join(broadcast(refineKey(buckets(newIdx))
        .select(col("table"), col("key"), col("id").as("new_id"))),
        Seq("table", "key"))
      .filter(col("id") =!= col("new_id"))
      .select(col("id").as("ix_rep"), col("new_id").as("n_rep")).distinct()
  }

  /** Within-corpus pairs from a prebuilt [[vecDedupIndex]] — the
    * first-batch path of VecDedupSync and the within-batch leg of
    * [[incrementalVecPairs]]. Identical semantics to
    * [[embeddingDupPairs]] over the same vectors (base-depth buckets,
    * occupancy cap, exact-cosine verify, exact-duplicate star,
    * membership expansion), with signatures CONSUMED from the index
    * (the base bucket is the low `bits` bits of the stored deep
    * signature) instead of recomputed from the vectors.
    */
  def vecPairsFromIndex(
      batchIdx: DataFrame, threshold: Double,
      bits: Int = 4, tables: Int = 12, dim: Int = 64,
      maxBucketSize: Int = 10000): DataFrame = {
    val groups = batchIdx
      .select(col("id").as("did"), col("vec"), col("keep"))
    val reps = batchIdx.filter(col("id") === col("keep"))
      .select(col("id"), col("vec"))
    val sigd = batchIdx.filter(col("id") === col("keep"))
      .select(col("id"), posexplode(col("sigs")))
      .select(col("id"), col("pos").as("table"),
        col("col").bitwiseAND(lit((1L << bits) - 1)).as("bucket"))
    // cap-skip proof: any bucket's occupancy <= total reps <= the
    // batch's rows — a driver-local micro-batch with <= maxBucketSize
    // rows cannot have an overfull bucket, so the occupancy agg +
    // semi-join are a no-op and are skipped (one fewer shuffle and
    // broadcast build per micro-batch's within-batch leg)
    val sized =
      if (localRowCount(batchIdx).exists(_ <= maxBucketSize)) sigd
      else {
        val okBuckets = sigd.groupBy(col("table"), col("bucket"))
          .agg(count(lit(1)).as("bsize"))
          .filter(col("bsize") <= maxBucketSize)
          .select("table", "bucket")
        sigd.join(okBuckets, Seq("table", "bucket"), "left_semi")
      }
    val l = sized.select(col("table"), col("bucket"), col("id").as("id_a"))
    val rt = sized.select(col("table"), col("bucket"), col("id").as("id_b"))
    val cand = l.join(rt, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyExpand(groups, reps, cand, threshold, expandGroups = true)
  }

  /** The persisted dedup index of a corpus: one row per doc with its
    * sorted shingle-hash array (feeds exact-Jaccard verification) and
    * MinHash signature (feeds LSH bucketing). Write this once at
    * ingest next to the corpus; appends then dedup against it with
    * `incrementalNearDups` without ever touching corpus text again.
    * Index width is numHashes+|shingles| longs per doc — a few KB —
    * vs re-reading and re-hashing the documents.
    */
  def dedupIndex(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 128, shingleSize: Int = 3,
      hasher: MinHashFamily = MinHashFamily.Xx): DataFrame = {
    // derivation params ride the sig column as metadata (the
    // vecDedupIndex discipline): a persisted index's shingle size,
    // hash family and signature width are FROZEN properties of its
    // stored shsets/sigs — a consumer that re-derives batch rows
    // under different params compares incommensurable spaces and
    // silently loses pairs, so DedupSync reads these back and signs
    // every later batch at the stored values
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.minhash.numhashes", numHashes.toLong)
      .putLong("graft.minhash.shinglesize", shingleSize.toLong)
      .putString("graft.minhash.family", hasher.name)
      .build()
    val hashed = df.select(col(idCol).as("id"),
      // the exact fingerprint rides along so cross-boundary EXACT
      // dups are caught even for docs too short to shingle (null sig)
      TextFunctions.fingerprint(col(textCol)).as("fp"),
      hasher.shingleHashes(col(textCol), shingleSize).as("shset"))
    hasher match {
      case MinHashFamily.Xx =>
        hashed.select(col("id"), col("fp"), col("shset"),
          when(size(col("shset")) > 0,
            hasher.signature(col("shset"), numHashes)).as("sig", md))
      case MinHashFamily.Md5 =>
        // distinct-hash permute table, not the per-occurrence HOF —
        // and never the unmaterialized form, whose signature tree
        // re-ran the shingle scan once per permutation
        val m = hashed.localCheckpoint()
        m.join(md5Signatures(m.select(col("id"), col("shset")),
            "id", numHashes), Seq("id"), "left")
          .select(col("id"), col("fp"), col("shset"),
            col("sig").as("sig", md))
    }
  }

  /** Incremental near-dup detection — the daily-append path: verified
    * pairs of a (small) new batch against an INDEXED corpus, plus
    * pairs within the batch itself, at identical semantics to running
    * `nearDupPairs` over corpus+batch (all hashing is deterministic
    * and seeded, so old and new signatures agree by construction).
    *
    * Scale shape: the corpus side derives its bucket keys from the
    * STORED signatures (one map pass over the index, no text
    * re-hashing) and then joins the batch's bucket table via
    * BROADCAST — the corpus is never shuffled, never re-read as text,
    * and scans once. Verification joins shingle sets only for the
    * candidate ids. Feed it the post-dedup keep set as the index (the
    * normal regime) so duplicate floods cannot exist on the corpus
    * side; within-batch floods are handled by nearDupPairs'
    * canonicalize-first design.
    *
    * Returns (id_a = corpus id, id_b = batch id) pairs for the cross
    * part, (a < b) within the batch.
    */
  /** The PROBE KEYS of a [[dedupIndex]] frame: one row per (doc,
    * base band key) plus one per fingerprint — exactly the keys under
    * which [[incrementalPairs]] can ever match a corpus doc against a
    * batch doc (the LSH candidate legs all start from round-0 band
    * keys — refinement only SUBDIVIDES a band bucket, so two docs in
    * the same refined bucket share its base key; the fp leg joins on
    * the fingerprint; docs too short to shingle have a null sig and
    * only the fp row). This is the sidecar row set DedupSync appends
    * per batch and the key set a pruned probe reads — a corpus index
    * restricted to docs sharing >= 1 of a batch's probe keys yields
    * BIT-IDENTICAL pairs to probing the full index (every bucket the
    * probe touches keeps its complete membership, so refinement
    * depths, caps, and verification see exactly what the full scan
    * sees).
    *
    * Key encoding is one xxhash64 LONG per row: band keys fold the
    * band ordinal with the band's signature slice hash; fingerprints
    * fold a -1 sentinel with the fp. A (band, bkey) <-> (-1, fp)
    * collision would only ever ADD a candidate, which verification
    * drops — the engine's standing 64-bit-hash assumption.
    */
  def probeKeys(idx: DataFrame, numHashes: Int = 128,
      bands: Int = 32): DataFrame = {
    val r = numHashes / bands
    // the EXACT round-0 key expression keysWith derives (the band
    // ordinal is already folded into the hash as its first argument,
    // so one long distinguishes bands; null-sig docs produce the same
    // per-band constants here as there)
    // null-sig (too-short) docs are EXCLUDED from the band leg: their
    // xxhash64(b, slice(null, ...)) would collapse to per-band
    // CONSTANTS shared by every short doc in the corpus, so one short
    // batch doc would resolve to every short corpus doc as candidates
    // — an O(short-doc count) fetch that can never verify (jaccard
    // over empty shingle sets never clears a positive threshold).
    // They still probe (and are probe-able) through the fp leg, which
    // is the only leg a null-sig doc can actually match through.
    val bandKeys = idx.filter(col("sig").isNotNull)
      .select(col("id"), explode(transform(sequence(lit(0),
        lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r)))))
        .as("bk"))
    val fpKeys = idx.select(col("id"),
      xxhash64(lit(-1), col("fp")).as("bk"))
    bandKeys.unionByName(fpKeys)
  }

  def incrementalNearDups(
      index: DataFrame, newDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000,
      hasher: MinHashFamily = MinHashFamily.Xx): DataFrame = {
    // hash the batch at the INDEX's stored derivation params
    // (indexSigBits' discipline on the vector side): stored shsets
    // and sigs were derived under the index's bootstrap knobs, and a
    // batch hashed under different ones compares incommensurable
    // spaces — band keys stop colliding and jaccard collapses, so
    // cross-boundary pairs silently vanish. Legacy indexes without
    // the metadata keep the passed knobs.
    def stored[A](key: String, read: Metadata => A, passed: A): A =
      index.schema.fields.find(_.name == "sig")
        .filter(_.metadata.contains(key))
        .map(f => read(f.metadata)).getOrElse(passed)
    // loud degrade (r15 verdict): see incrementalVecDups' twin
    if (index.schema.fields.exists(f => f.name == "sig" &&
        !f.metadata.contains("graft.minhash.numhashes")))
      println("[Dedup] text index carries no stored derivation " +
        "metadata (legacy or metadata-stripped); assuming the passed " +
        s"knobs (numHashes=$numHashes, shingleSize=$shingleSize, " +
        s"family=${hasher.name}) — if the index was hashed under " +
        "different knobs, cross-boundary pairs are silently lost; " +
        "rebuild the index to freeze its params")
    val eNumHashes = stored("graft.minhash.numhashes",
      _.getLong("graft.minhash.numhashes").toInt, numHashes)
    val eShingle = stored("graft.minhash.shinglesize",
      _.getLong("graft.minhash.shinglesize").toInt, shingleSize)
    val eHasher = stored("graft.minhash.family",
      m => MinHashFamily.byName(m.getString("graft.minhash.family")),
      hasher)
    incrementalPairs(
      index,
      dedupIndex(newDocs, textCol, idCol, eNumHashes, eShingle, eHasher)
        .localCheckpoint(), // consumed by buckets + verification + within
      threshold, eNumHashes, bands, maxBucketSize)
  }

  /** [[incrementalNearDups]] over a PRE-COMPUTED batch index — the
    * entry DedupSync uses so each micro-batch's text is shingle-
    * hashed exactly once: the same `(id, fp, shset, sig)` frame feeds
    * the cross-corpus probe, the within-batch pairs
    * ([[pairsFromIndex]]) and the index append. `newIdx` must be
    * materialized (localCheckpoint) by the caller; it is consumed by
    * four subtrees here.
    */
  def incrementalPairs(
      index: DataFrame, newIdx: DataFrame, threshold: Double,
      numHashes: Int = 128, bands: Int = 32,
      maxBucketSize: Int = 1000,
      refineExtra: Int = Int.MaxValue,
      materialize: DataFrame => DataFrame = _.localCheckpoint(),
      canonical: Boolean = false): DataFrame = {
    // probeKeys' bit-identical-pairs contract assumes a POSITIVE
    // threshold: null-sig (too-short) docs are excluded from the band
    // leg, and jaccard_sorted(empty, empty) = 0.0, so at
    // threshold <= 0 the full probe would emit short-doc
    // band-constant pairs a pruned probe cannot see — fail loudly
    // instead of diverging silently in the degenerate setting.
    require(threshold > 0,
      s"threshold must be > 0 (got $threshold): at non-positive " +
        "thresholds the band-key candidate contract degenerates " +
        "(short-doc band constants pair everything)")
    // ONLINE PER-BUCKET REFINEMENT on the cross probe — the text twin
    // of the vector index's deep-signature subdivision, with the same
    // motivation: a corpus band bucket that grows past maxBucketSize
    // (a boilerplate/template family) must neither expand the
    // BROADCAST candidate list without bound (the pre-round-11 state:
    // the cross probe had NO cap at all) nor be silently dropped
    // (zero recall for everything in it). The refinement headroom was
    // always stored: a band consumes r of the numHashes signature
    // coordinates, so an overfull bucket subdivides by appending
    // coordinates from the OTHER bands (cyclically, starting after
    // its own slice) — each appended minhash coordinate agrees for a
    // J-similar pair with probability ~J, so near-dup recall inside
    // the refined bucket degrades gently while diverse overflow
    // shatters. Depth grows with the exact integer log2 of the
    // overflow ratio, capped at refineExtra (0 disables refinement
    // and leaves the pure cap — the old drop semantics plus the
    // missing bound). Unlike the vector side's parameter-bounded base
    // buckets, band buckets are data-bounded, so the refinement map
    // stays a DataFrame and JOINS (Spark broadcasts it when small)
    // instead of collecting to the driver.
    val r = numHashes / bands
    val maxExtra = math.max(0, math.min(refineExtra, numHashes - r))
    // ITERATIVE, extendible-hashing style: unlike the vector side's
    // ~iid sign bits, appended minhash coordinates CORRELATE with the
    // very boilerplate that crowds a bucket (each appended coordinate
    // shrinks the bucket by the family's similarity, not by half), so
    // a single log2-sized append can leave children overfull. Each
    // round recomputes occupancy over the keys-so-far and refines the
    // still-overfull buckets further; the per-round maps are SMALL
    // (they hold only overfull buckets) and are materialized, which
    // also gives the common case an early exit — nothing overfull
    // after round 1's aggregate means zero extra passes. Keys chain
    // (child key = hash(parent key, appended slice)), so an untouched
    // bucket's occupancy never changes and maps stay consistent
    // across rounds for both sides.
    val ratio = expr(s"(bsize + ${maxBucketSize - 1}) div $maxBucketSize")
    val ladder = (1 to 12).foldLeft(when(ratio <= 1, 0)) {
      case (acc, e) => acc.when(ratio <= (1L << e), e)
    }.otherwise(12)
    // (id, [sig,] band, bkey, used) after applying the refinement
    // maps in order; the sig-carrying form exists only inside the
    // scan stage (the maps broadcast) — never shuffled
    def keysWith(d: DataFrame, maps: Seq[DataFrame]): DataFrame = {
      val rotLen = lit(numHashes) - (col("band") * r + r)
      val rot = concat(
        slice(col("sig"), col("band") * r + r + 1, rotLen),
        slice(col("sig"), lit(1), col("band") * r))
      var cur = d
        .select(col("id"), col("sig"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(b, slice(col("sig"), b * r + 1, lit(r))))))
        .select(col("id"), col("sig"), col("pos").as("band"),
          col("col").as("bkey"), lit(0).as("used"))
      maps.foreach { m =>
        val d2 = least(col("depth"), lit(maxExtra) - col("used"))
        // no forced broadcast: the map is data-bounded (overfull
        // buckets only) — checkpointing gave it accurate stats, so
        // Spark broadcasts it exactly when it is actually small
        cur = cur
          .join(m, Seq("band", "bkey"), "left")
          .select(col("id"), col("sig"), col("band"),
            when(col("depth").isNotNull && d2 > 0,
              xxhash64(col("bkey"), slice(rot, col("used") + 1, d2)))
              .otherwise(col("bkey")).as("bkey"),
            when(col("depth").isNotNull && d2 > 0, col("used") + d2)
              .otherwise(col("used")).as("used"))
      }
      cur.select(col("id"), col("band"), col("bkey"))
    }
    val maps = scala.collection.mutable.Buffer.empty[DataFrame]
    val maxRounds = if (maxExtra == 0) 0 else 3
    // the keys-so-far derivation is shared between each round's
    // occupancy check and the final corpusKeys: the common
    // nothing-overfull case derives the corpus band keys ONCE for the
    // round-1 aggregate and reuses the same (lazy) frame as
    // corpusKeys — not three independent derivations per probe
    var corpusKeys = keysWith(index.select(col("id"), col("sig")),
      Seq.empty)
    var exhausted = maxRounds == 0
    for (_ <- 1 to maxRounds if !exhausted) {
      val over = corpusKeys
        .groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("bsize"))
        .filter(col("bsize") > maxBucketSize)
        .select(col("band"), col("bkey"), ladder.as("depth"))
        .localCheckpoint() // small: overfull buckets only
      if (over.isEmpty) exhausted = true
      else {
        maps += over
        corpusKeys = keysWith(index.select(col("id"), col("sig")),
          maps.toSeq)
      }
    }
    // the cap survives at the FINAL refined level: a >cap family
    // identical on every appendable coordinate (a true near-identical
    // flood) is inherently quadratic and stays bounded-dropped; its
    // exact dups still pair through the fingerprint leg below. When
    // no round produced a map, round 1's aggregate already proved
    // every bucket within cap — skip the semi-join entirely (the
    // vector path's discipline). Pure-cap mode (maxExtra == 0) runs
    // no rounds, so nothing is proven there and the cap semi-join
    // stays.
    val cand0 =
      if (maps.isEmpty && maxRounds > 0) corpusKeys
      else {
        val okRefined = corpusKeys.groupBy(col("band"), col("bkey"))
          .agg(count(lit(1)).as("bsize"))
          .filter(col("bsize") <= maxBucketSize)
          .select("band", "bkey")
        corpusKeys.join(okRefined, Seq("band", "bkey"), "left_semi")
      }
    val cand = cand0
      .join(broadcast(keysWith(newIdx.select(col("id"), col("sig")),
        maps.toSeq)
        .select(col("band"), col("bkey"), col("id").as("new_id"))),
        Seq("band", "bkey"))
      .filter(col("id") =!= col("new_id")) // re-submitted identical ids
      .select(col("id").as("id_a"), col("new_id").as("id_b"))
      .distinct()
    // verification: the corpus index is the BIG side — stream it and
    // broadcast the (small) candidate list and batch shingle sets, so
    // no stage anywhere shuffles or sorts the index
    val crossPairs = index
      .select(col("id").as("id_a"), col("shset").as("set_a"))
      .join(broadcast(cand), Seq("id_a"))
      .join(broadcast(newIdx.select(col("id").as("id_b"),
        col("shset").as("set_b"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.jaccardSorted(col("set_a"), col("set_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // exact dups across the boundary via the stored fingerprint —
    // covers docs too short to shingle, which the LSH path can't see
    val fpPairs = index.select(col("id").as("id_a"), col("fp"))
      .join(broadcast(newIdx.select(col("id").as("id_b"), col("fp"))),
        Seq("fp"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    // `canonical = true` orients the CROSS legs least/greatest at
    // generation time (a free projection before the merge groupBy
    // this tree pays anyway; the within-batch leg is canonical
    // already), so a pairs-store sink can take writeBatch's
    // preCanonical path — one fewer full exchange + agg of the pair
    // set per micro-batch. Default keeps the (corpus id, batch id)
    // orientation the direct consumers contract on (c19 reads id_a
    // as the corpus doc and id_b as the eval excerpt).
    val cross0 = crossPairs.unionByName(fpPairs)
    val cross =
      if (!canonical) cross0
      else cross0.select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
    cross
      .unionByName(
        pairsFromIndex(newIdx, threshold, numHashes, bands,
          maxBucketSize, materialize = materialize))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("jaccard")).as("jaccard"))
  }

  /** [[nearDupPairs]] computed straight off a [[dedupIndex]] frame
    * `(id, fp, shset, sig)` — same canonicalize-first shape, same
    * results by construction (the index columns ARE the intermediate
    * values nearDupPairs derives from text), but zero text hashing:
    * the fingerprint grouping reads `fp`, LSH reads the stored `sig`,
    * verification reads the stored `shset`. Used wherever the index
    * already exists (DedupSync computes one per micro-batch for the
    * index append anyway). Callers pass a materialized frame; the
    * rep subset is re-materialized here for its three consumers.
    */
  def pairsFromIndex(
      idx: DataFrame, threshold: Double, numHashes: Int = 128,
      bands: Int = 32, maxBucketSize: Int = 1000,
      expandGroups: Boolean = true,
      materialize: DataFrame => DataFrame = _.localCheckpoint())
      : DataFrame = {
    // star pairs + rep filter + membership below; `materialize`
    // defaults to an eager checkpoint (batch callers) — a micro-batch
    // caller over local/cached inputs passes identity so the whole
    // tree materializes in its one consuming write
    val groups = materialize(idx
      .select(col("id").as("did"), col("fp"))
      .withColumn("keep", min(col("did")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .select(col("did"), col("keep")))
    val exactPairs = groups.filter(col("did") =!= col("keep"))
      .select(col("keep").as("id_a"), col("did").as("id_b"),
        lit(1.0).as("jaccard"))
    val repIdx = materialize(idx.join(
      groups.filter(col("did") === col("keep"))
        .select(col("did").as("id")),
      Seq("id"), "left_semi")) // bucket table + two verification joins
    // cap-skip proof: reps <= idx rows, and any band bucket's
    // occupancy <= reps — a driver-local micro-batch index with
    // <= maxBucketSize rows cannot have an overfull bucket, so the
    // occupancy agg + semi-join are a no-op and are skipped
    val cands = candidatePairs(
      lshBuckets(repIdx.select(col("id"), col("sig")), bands, numHashes),
      maxBucketSize,
      skipCap = localRowCount(idx).exists(_ <= maxBucketSize),
      materialize = materialize)
    val repPairs = cands
      .join(repIdx.select(col("id").as("id_a"), col("shset").as("set_a")),
        Seq("id_a"))
      .join(repIdx.select(col("id").as("id_b"), col("shset").as("set_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.jaccardSorted(col("set_a"), col("set_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val pairsOut =
      if (!expandGroups) repPairs
      else {
        val members = groups.select(col("keep"), col("did"))
        repPairs
          .join(members.select(col("keep").as("id_a"), col("did").as("m_a")),
            Seq("id_a"))
          .join(members.select(col("keep").as("id_b"), col("did").as("m_b")),
            Seq("id_b"))
          .select(least(col("m_a"), col("m_b")).as("id_a"),
            greatest(col("m_a"), col("m_b")).as("id_b"), col("jaccard"))
      }
    pairsOut.unionByName(exactPairs)
      .groupBy("id_a", "id_b").agg(max(col("jaccard")).as("jaccard"))
  }

  /** SemDeDup-style semantic dedup: a k-means coarse quantizer
    * partitions the embedding space into `nlist` cells; pairs are
    * generated only within shared cells and then exact-cosine
    * verified. The data-adaptive sibling of `embeddingDupPairs`
    * (centroids follow density; hyperplanes are data-oblivious).
    *
    * Scale shape: training is a bounded deterministic sample
    * (Similarity.coarseCentroids); cell assignment is a ZERO-shuffle
    * map pass (centroids are plan literals, top-nprobe picked
    * in-register — Similarity.probeCells); candidate work per cell is
    * occupancy-quadratic, so `nlist` scales with corpus size to hold
    * occupancy constant and `maxCellSize` hard-bounds stragglers.
    * Cross-cell near-boundary misses are recovered by nprobe > 1:
    * measured 0.92+ recall at nlist=4/nprobe=2 on the fixture's
    * near-orthogonal embeddings (the adversarial case — real
    * duplicate corpora co-locate far more strongly). Exact-duplicate
    * floods never reach the cells: the canonicalize-first grouping
    * pairs them O(n) against one representative.
    */
  def semanticDupPairs(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nlist: Int = 4, nprobe: Int = 2,
      seed: Long = 42L, maxTrainRows: Long = 100000L,
      maxCellSize: Int = 10000, expandGroups: Boolean = true): DataFrame = {
    val groups = vecGroups(df, vecCol, idCol)
    val reps = groups.filter(col("did") === col("keep"))
      .select(col("did").as("id"), col("vec"))
    val cents =
      Similarity.coarseCentroids(reps, "vec", "id", nlist, seed, maxTrainRows)
    // ids only through the cell self-join, same as the LSH path
    val cells = reps.select(col("id"),
      explode(Similarity.probeCells(col("vec"), cents, nprobe)).as("cell"))
    val okCells = cells.groupBy(col("cell"))
      .agg(count(lit(1)).as("csize"))
      .filter(col("csize") <= maxCellSize)
      .select("cell")
    val sized = cells.join(okCells, Seq("cell"), "left_semi")
      .localCheckpoint() // both sides of the self-join below
    val cand = sized.select(col("cell"), col("id").as("id_a"))
      .join(sized.select(col("cell"), col("id").as("id_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // a pair can share up to nprobe cells
    verifyExpand(groups, reps, cand, threshold, expandGroups)
  }

  /** Canonicalize-first grouping shared by the embedding dedup
    * strategies: one row per doc as (did, vec, keep = min id over
    * identical vectors). Identical vectors would meet in EVERY
    * bucket/cell, so a k-way duplicate flood costs k^2 in any
    * candidate self-join; downstream stages run over one
    * representative per distinct vector instead and expand back
    * through membership. SQL grouping treats NULL = NULL, so null
    * embeddings would all land in ONE group and emit cosine=1.0
    * "exact dup" pairs; they are excluded up front (the LSH path
    * already did — null vec -> null sigs -> no candidates). Zero-norm
    * vectors are excluded for the same consistency reason: cosineSim
    * defines them as 0-similar to everything, so declaring two of
    * them exact dups would contradict the verification kernel.
    */
  private[graft] def vecGroups(
      df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("did"), col(vecCol).as("vec"))
      .filter(col("vec").isNotNull &&
        exists(col("vec"), v => v =!= lit(0.0f)))
      .withColumn("keep", min(col("did")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec"))))
      .localCheckpoint() // 4 consumers (star, reps+vec, members)

  /** Shared verification tail for embedding dedup: rejoin vectors
    * onto the ids-only candidate pair set, keep exact cosine >=
    * threshold, optionally expand representative pairs through group
    * membership, and union the O(n) exact-duplicate star pairs
    * (cosine = 1.0 by construction, bypassing the candidate stage).
    */
  private def verifyExpand(
      groups: DataFrame, reps: DataFrame, cand: DataFrame,
      threshold: Double, expandGroups: Boolean): DataFrame = {
    val exactPairs = groups.filter(col("did") =!= col("keep"))
      .select(col("keep").as("id_a"), col("did").as("id_b"),
        lit(1.0).as("cosine"))
    val repPairs = cand
      .join(reps.select(col("id").as("id_a"), col("vec").as("v_a")), Seq("id_a"))
      .join(reps.select(col("id").as("id_b"), col("vec").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSim(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    val pairsOut =
      if (!expandGroups) repPairs
      else {
        val members = groups.select(col("keep"), col("did"))
        repPairs
          .join(members.select(col("keep").as("id_a"), col("did").as("m_a")),
            Seq("id_a"))
          .join(members.select(col("keep").as("id_b"), col("did").as("m_b")),
            Seq("id_b"))
          .select(least(col("m_a"), col("m_b")).as("id_a"),
            greatest(col("m_a"), col("m_b")).as("id_b"), col("cosine"))
      }
    pairsOut.unionByName(exactPairs)
      .groupBy("id_a", "id_b").agg(max(col("cosine")).as("cosine"))
  }

  /** One-call corpus dedup: keep exactly one document per near-dup
    * cluster (exact + MinHash-LSH at `threshold`, components via
    * pointer-doubling min-label). The compact pair form feeds the
    * component step — cross-group member pairs are never
    * materialized — so the whole path is flood-proof end to end.
    * Returns `df` filtered to cluster representatives (min id each).
    */
  /** Jaro-Winkler record linkage with prefix blocking, canonicalize-
    * first: the O(|a|*|b|) kernel runs once per DISTINCT (lang,
    * title) pair; identical titles collapse to a representative
    * before the quadratic stage and expand back through membership
    * joins afterwards — the same flood discipline as
    * [[embeddingDupPairs]]. A k-way replica flood therefore costs the
    * kernel NOTHING extra (distinct titles are k-invariant); only the
    * output expansion — which is k^2 rows by definition — grows. The
    * naive blocked self-join runs the kernel per member pair and
    * dies of single-block skew on floods (measured 208 s vs ~8 s at
    * ScaleSmoke k=20).
    *
    * Output: (id_a, id_b, sim) with id_a < id_b, sim >= threshold;
    * identical nonempty titles pair at exactly 1.0 (the kernel's own
    * value), empty titles never pair (jw convention: either side
    * empty -> 0.0). Equal to the naive form row-for-row — DedupSpec
    * pins the equality on a planted flood.
    */
  def jaroLinkage(
      df: DataFrame, idCol: String, langCol: String, titleCol: String,
      threshold: Double, blockLen: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.expressions.jaro_winkler
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold $threshold outside (0, 1] — jw never exceeds 1, so " +
        "a higher cut silently returns only the identical-title star")
    val base = df.select(col(idCol).as("id"), col(langCol).as("lang"),
      col(titleCol).as("title"))
      .withColumn("blk", substring(col("title"), 1, blockLen))
    // intra-group: every member pair of an identical nonempty title
    // is a linkage at exactly 1.0 — no kernel, pure expansion
    val ma = base.select(col("lang"), col("title"), col("id").as("id_a"))
    val mb = base.select(col("lang"), col("title"), col("id").as("id_b"))
    val intra = ma.join(mb, Seq("lang", "title"))
      .where(col("id_b") > col("id_a") && length(col("title")) >= 1)
      .select(col("id_a"), col("id_b"),
        lit(1.0).as("sim"))
    // inter-group: kernel once per distinct title pair in a block,
    // oriented t_a < t_b so each rep pair evaluates once
    val reps = base.select(col("lang"), col("blk"), col("title"))
      .distinct()
    val rp = reps.select(col("lang"), col("blk"), col("title").as("t_a"))
      .join(reps.select(col("lang"), col("blk"), col("title").as("t_b")),
        Seq("lang", "blk"))
      .where(col("t_a") < col("t_b"))
      .select(col("lang"), col("t_a"), col("t_b"),
        jaro_winkler(col("t_a"), col("t_b")).as("sim"))
      .where(col("sim") >= threshold)
    val inter = rp
      .join(ma.select(col("lang"), col("title").as("t_a"),
        col("id_a").as("ia")), Seq("lang", "t_a"))
      .join(mb.select(col("lang"), col("title").as("t_b"),
        col("id_b").as("ib")), Seq("lang", "t_b"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("sim"))
    intra.unionByName(inter)
  }

  def dedupCorpus(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double, numHashes: Int = 128, bands: Int = 32,
      shingleSize: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val pairs = nearDupPairs(df, textCol, idCol, threshold, numHashes,
      bands, shingleSize, maxBucketSize, expandGroups = false)
    val reps = clusterReps(df.select(col(idCol).as("id")), pairs)
    df.join(
      reps.filter(col("id") === col("rep")).select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Connected-component representatives from a near-dup pair list:
    * (id, rep) where rep is the minimum id reachable through pairs.
    *
    * Each round combines one-hop min-label propagation with POINTER
    * DOUBLING (rep := min(rep, neighbor reps, rep(rep))) — the
    * shortcut halves chain distance every round, so convergence is
    * O(log diameter) rounds, not O(diameter): a 1000-link dup chain
    * (common with consecutive-id boilerplate) settles in ~10 rounds.
    * Each round is a handful of equi-join shuffles on (id) — no
    * driver-side graph state; `maxIters` bounds runaway inputs.
    */
  def clusterReps(
      ids: DataFrame, pairs: DataFrame, maxIters: Int = 64,
      smallGraphPairs: Long = 10000000L): DataFrame = {
    // Materialize the pair list ONCE (it may be a whole LSH pipeline):
    // three consumers follow — touched ids, edges, and the final
    // anti-join — and each would otherwise re-evaluate the subtree.
    // localCheckpoint, not persist: the returned (lazy) union still
    // references derivations of this frame after we return.
    val p = pairs.localCheckpoint()
    // SIZE-ADAPTIVE strategy. The dup GRAPH is orders of magnitude
    // smaller than the corpus (compact star+rep pairs, k-way floods
    // collapsed to O(k)): even a 100 TB corpus commonly yields a pair
    // list that fits one task (10M pairs = 160 MB of longs). Gather
    // it and run union-find in a single job instead of paying
    // O(log diameter) iterative rounds of per-job latency; the
    // pointer-doubling loop below stays the path for graphs that
    // genuinely exceed single-task memory. count() on the
    // checkpointed blocks is O(partitions).
    //
    // The fast path runs over primitive longs, so it is gated on the
    // id columns being integral: string/UUID ids would either fail
    // the long cast or alias distinct ids ("01" vs "1"). Non-integral
    // ids take the iterative path, which is type-generic (min/least).
    val integralIds = {
      import org.apache.spark.sql.types._
      Seq(p.schema("id_a").dataType, p.schema("id_b").dataType,
        ids.schema("id").dataType).forall {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    if (integralIds && p.count() <= smallGraphPairs)
      return smallGraphReps(ids, p)
    // Only ids that appear in a pair can ever change label — iterate
    // over the DUP GRAPH, not the corpus. At 100 TB the dup graph is
    // orders of magnitude smaller than the id set; untouched ids are
    // their own representative and are unioned back at the end.
    val touched = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id")))
      .distinct()
    val loopIds = ids.join(touched, Seq("id"), "left_semi")
    val untouched = ids.join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("rep"))
    // undirected edges, both directions (cheap scans of the
    // checkpointed blocks; no separate persist needed)
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    // One fused pass per round: augmenting the edge set with the
    // current rep POINTERS (id -> rep) makes a single join+groupBy(min)
    // compute BOTH the neighbor minimum and the pointer-doubling hop
    // rep(rep(id)) — vs. three joins naively. `oldRep` (the label as
    // of the last materialization) rides along so the convergence
    // probe is a plain filter over cached blocks, not a join back to
    // the previous generation.
    def round(df: DataFrame): DataFrame = {
      val aug = edges.unionByName(
        df.select(col("id").as("src"), col("rep").as("dst")))
      val neighborMin = aug
        .join(df.select(col("id").as("dst"), col("rep").as("nrep")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nrep")).as("minN"))
      df.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("oldRep"),
          least(col("rep"), coalesce(col("minN"), col("rep"))).as("rep"))
    }
    // Lineage MUST be truncated periodically (localCheckpoint): each
    // round references the previous frame three times, so an unchecked
    // loop grows the logical plan 3^rounds and the driver dies
    // planning it long before any data moves. Two rounds per
    // checkpoint keeps the plan at 3^2 references while halving the
    // materialization/probe actions — labels only ever decrease, so
    // "no change across a double round" is still exactly convergence.
    var reps = loopIds.select(col("id"), col("id").as("oldRep"),
      col("id").as("rep")).localCheckpoint()
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val next = round(round(
        reps.select(col("id"), col("rep").as("oldRep"), col("rep"))))
        .localCheckpoint()
      val changed = next.filter(col("rep") =!= col("oldRep"))
        .limit(1).count()
      // Dataset.unpersist only evicts CacheManager entries — a no-op
      // for localCheckpoint blocks, which live as RDD storage. Free
      // the superseded generation's blocks through the underlying
      // checkpoint RDD (LogicalRDD) or a long loop accumulates one
      // materialized generation per double-round until ContextCleaner
      // happens to GC them.
      checkpointRdd(reps).foreach(_.unpersist(blocking = false))
      reps = next
      converged = changed == 0
      i += 2
    }
    // Un-converged labels are WRONG answers (some id still points at a
    // non-minimal rep), and at sf0.1 the fixture graph already needs
    // 14 rounds — returning silently was a correctness cliff. The
    // default cap covers pointer-doubling distance ~2^63; hitting it
    // means a pathological input, not a tuning problem.
    if (!converged) throw new IllegalStateException(
      s"clusterReps did not converge within $maxIters rounds")
    reps.select(col("id"), col("rep")).unionByName(untouched)
  }

  /** Single-task connected components for pair lists that fit one
    * executor's memory: gather the edges (one shuffle to one
    * partition), union-find with union-by-min (attaching the larger
    * root under the smaller keeps every tree's root the component
    * minimum — identical labels to the iterative path), then join the
    * labels back. One job + one broadcast-sized result instead of
    * O(log diameter) rounds.
    */
  private def smallGraphReps(ids: DataFrame, p: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val idType = ids.schema("id").dataType
    val labels = p
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        // Primitive open-addressing map, not HashMap[Long,Long]: boxed
        // entries cost ~100 B each (~2 GB at 20M nodes — executor OOM
        // well under the advertised threshold); this is 17 B/slot,
        // ~550 MB worst case for the default 10M-pair bound. NOTE the
        // bound is ENTRIES (nodes ≤ 2×pairs), not raw long bytes.
        val parent = new LongLongMap(1 << 16)
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val out = Array.newBuilder[(Long, Long)]
        parent.foreachKey(k => out += ((k, find(k))))
        out.result().iterator
      }
      .toDF("id", "rep")
    // cast rep back to the caller's id type so both strategies return
    // the same schema (the fast path computed in long)
    ids.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("rep").cast(idType), col("id")).as("rep"))
  }

  /** Minimal primitive long→long open-addressing hash map (linear
    * probing, power-of-two capacity, 0.7 max load). Exists because
    * the single-task union-find must hold up to ~2×smallGraphPairs
    * entries in one executor: a boxed mutable.HashMap costs ~100
    * bytes/entry where this costs 17 bytes/slot.
    */
  private final class LongLongMap(initCap: Int) {
    private var mask = Integer.highestOneBit(math.max(initCap, 16)) * 2 - 1
    private var keys = new Array[Long](mask + 1)
    private var vals = new Array[Long](mask + 1)
    private var used = new Array[Boolean](mask + 1)
    private var sz = 0
    private def slot(k: Long): Int = {
      var h = k * 0x9E3779B97F4A7C15L
      h ^= h >>> 32
      var i = h.toInt & mask
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      i
    }
    def contains(k: Long): Boolean = used(slot(k))
    /** parent(k) — returns k itself if absent (safe for union-find). */
    def apply(k: Long): Long = {
      val i = slot(k)
      if (used(i)) vals(i) else k
    }
    def update(k: Long, v: Long): Unit = {
      var i = slot(k)
      if (!used(i)) {
        if ((sz + 1) * 10 > (mask + 1) * 7) { grow(); i = slot(k) }
        used(i) = true
        keys(i) = k
        sz += 1
      }
      vals(i) = v
    }
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < keys.length) { if (used(i)) f(keys(i)); i += 1 }
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val ou = used
      mask = mask * 2 + 1
      keys = new Array[Long](mask + 1)
      vals = new Array[Long](mask + 1)
      used = new Array[Boolean](mask + 1)
      sz = 0
      var i = 0
      while (i < ok.length) { if (ou(i)) update(ok(i), ov(i)); i += 1 }
    }
  }

  /** The RDD backing a localCheckpoint'd frame (None for any other
    * plan shape) — the handle needed to actually free its blocks.
    */
  private def checkpointRdd(
      df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
}
