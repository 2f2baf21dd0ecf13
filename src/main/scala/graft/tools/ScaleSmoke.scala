package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.Engine
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Scale-stress smoke: replicate the documents corpus k times (ids
  * offset, texts identical => every doc becomes a k-way exact-dup
  * flood) and run the MinHash near-dup pipeline + the curation agg on
  * it. This stresses precisely the paths that break naive LSH at
  * scale — saturated buckets and duplicate floods — and prints
  * wall-clock per stage so growth can be checked against k.
  *
  * `sbt "runMain graft.tools.ScaleSmoke [sfDir] [k] [stageFilter]"` —
  * the optional third arg runs only stages whose label contains it
  * (dev iteration on one ladder without paying for the whole suite;
  * pick a prefix that covers a block's dependent stages, e.g.
  * "tsync" or "aggsync").
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val only = args.lift(2)
    val spark = Engine.session(appName = "graft-scale-smoke")

    val base = Engine.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    val big = (0 until k).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        col("text"))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    val n = big.count()

    def active(label: String): Boolean = only.forall(label.contains(_))
    def timed(label: String)(body: => Long): Unit = {
      if (!active(label)) return
      val t0 = System.nanoTime()
      val rows = body
      println(f"[smoke] $label%-22s rows=$rows%10d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      // free this stage's localCheckpoint blocks (persisted caches
      // like `big` are untouched) so later stages measure themselves,
      // not the accumulated storage backlog
      Engine.releaseCheckpoints(spark)
    }

    println(s"[smoke] corpus: $n docs (k=$k x ${n / k})")
    timed("exact_dedup") {
      Dedup.exact(big, "text", "doc_id").count()
    }
    timed("minhash_neardups") {
      Dedup.nearDupPairs(big, "text", "doc_id", threshold = 0.5).count()
    }
    timed("quality_gate_agg") {
      big.withColumn("q", TextFunctions.qualityScore(col("text")))
        .filter(col("q") >= 0.5)
        .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")), count(lit(1))).count()
    }
    // compact form: star + rep pairs (same connectivity). The fully
    // expanded member-pair output at k=20 is 32M rows (k^2 per dup
    // group) and its materialization, not the LSH, dominates — which
    // is the point of expandGroups=false.
    timed("simhash_compact") {
      Dedup.simhashPairs(big, "text", "doc_id", maxHamming = 10,
        expandGroups = false).count()
    }
    // decontamination against a held-out slice: eval n-gram set
    // broadcast, corpus side explode -> semi-join, never shuffled
    timed("decontaminate") {
      val d = big.select(col("doc_id"),
        array_distinct(TextFunctions.shingles(col("text"), 3)).as("ng"))
      val evalNg = d.filter(col("doc_id") % 97 === 0)
        .select(explode(col("ng")).as("ngram")).distinct()
      d.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(col("ng")).as("ngram"))
        .join(broadcast(evalNg), Seq("ngram"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1))).count()
    }
    // the one-call end-to-end: pairs -> components -> keep set, on a
    // corpus where EVERY doc is a k-way flood (stresses clusterReps'
    // graph size as well as the LSH)
    timed("dedup_corpus_e2e") {
      Dedup.dedupCorpus(big, "text", "doc_id", threshold = 0.5).count()
    }
    // the append path: index 80% of the corpus once, then dedup the
    // other 20% against it (corpus side never re-hashed or shuffled)
    val index = Dedup.dedupIndex(
      big.filter(col("doc_id") % 5 =!= 0), "text", "doc_id").persist()
    timed("dedup_index_build") { index.count() }
    timed("incremental_dedup") {
      Dedup.incrementalNearDups(index,
        big.filter(col("doc_id") % 5 === 0), "text", "doc_id",
        threshold = 0.5).count()
    }
    // banlist scrub: Bloom sketch of ~1/37 of the corpus's
    // fingerprints probes the whole corpus with zero shuffle; only
    // survivors (here: every doc, since each is a k-way flood of a
    // listed-or-unlisted fingerprint) pay the exact semi-join
    timed("bloom_scrub") {
      val fp = big.withColumn("fp", TextFunctions.fingerprint(col("text")))
      graft.operators.Layout.bloomSemiJoin(fp, "fp",
        fp.filter(col("doc_id") % 37 === 0).select(col("fp")), "fp").count()
    }
    // sketch-pass heavy hitters over the replicated token stream:
    // the CMS build is one tree-aggregated pass; replication must not
    // change the heavy set (relative frequencies are k-invariant)
    // span-level dedup: every 8-token window of the replicated corpus
    // hashes in the scan stage (the shuffle carries md5s only); on a
    // k-way flood EVERY span is repeated, so the agg sees the maximal
    // load the shape can produce
    timed("span_dedup") {
      Dedup.spanDups(big, "text", "doc_id").count()
    }
    // containment (excerpt) dedup on the flood. Two claims under
    // test, measured separately. (1) Canonicalize-first makes the
    // candidate/verify KERNEL k-invariant: the flood's replicas
    // collapse to their fingerprint reps before any signature work,
    // so the measured stage must grow only with the (by definition
    // k^2) pair OUTPUT — the pre-canonicalization form measured
    // 393 s at k=20 where the canonical form's kernel is the 1x
    // cost. (2) The PPJoin prefix filter cuts the rep-level
    // candidate multiset from df(g)^2 to df_prefix(g)*df(g); both
    // sizes derive in closed form from the df / prefix histograms
    // over the SAME rep relation the operator indexes — naive =
    // sum_g df(g)*(df(g)-1) ordered co-occurrences; prefix =
    // sum_g pf(g)*(df(g)-1) (each prefix posting meets every other
    // posting of g except itself) — so the naive join never has to
    // run to be priced (on a shared-vocabulary corpus it stops
    // being runnable precisely when the filter starts mattering).
    // Output equality of the filtered and naive shapes is
    // spec-pinned on fixture data (DedupSpec).
    timed("containment_pairs") {
      Dedup.containmentPairs(big, "text", "doc_id").count()
    }
    if (only.forall("containment_cands".contains(_))) locally {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp"))
      val reps = big
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .withColumn("rep", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("rep"))
        .select(col("doc_id"), col("text"))
      val sh = Dedup.containmentShingles(reps, "text", "doc_id", 3)
      val inv = sh.select(col("id"), explode(col("sh")).as("g"))
      val dfreq = inv.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val pfreq = Dedup.containmentPrefix(sh, 8, 10)
        .groupBy(col("g")).agg(count(lit(1)).as("pf"))
      val r = dfreq.join(pfreq, Seq("g"), "left")
        .agg(sum(col("df") * (col("df") - 1)).as("naive"),
          sum(coalesce(col("pf"), lit(0L)) * (col("df") - 1))
            .as("pruned"))
        .first()
      val (naive, pruned) = (r.getLong(0), r.getLong(1))
      println(f"[smoke] containment_cands     naive=$naive%14d  " +
        f"prefix=$pruned%13d  ratio=${pruned.toDouble / naive}%.5f")
    }
    timed("cms_heavy_hitters") {
      import org.apache.spark.sql.graft.expressions.cms_estimate
      val toks = big.select(
        explode(TextFunctions.tokens(col("text"))).as("token"))
        .select(col("token"), xxhash64(col("token")).as("h"))
      val cms = toks.stat.countMinSketch("h", 0.0005, 0.99, 17)
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      toks.where(cms_estimate(col("h"), bos.toByteArray)
          >= math.max(1L, cms.totalCount / 200))
        .distinct().count()
    }
    // BPE induction: the histogram is VOCABULARY-bounded — replication
    // multiplies counts, not rows, so the driver loop's input is
    // k-invariant and wall-clock must stay flat
    timed("bpe_merges") {
      graft.operators.Bpe.learnMerges(big, "text", numMerges = 20).count()
    }
    // realistic tokenizer vocabulary: the distributed cost is the SAME
    // one histogram shuffle as above (k-invariant), and the
    // incremental driver loop (stats deltas + pair->word index + lazy
    // max-heap) prices 4096 merges at O(affected words) per merge —
    // the stage must read within noise of bpe_merges, proving merge
    // count is a driver-side afterthought, not a scale axis
    timed("bpe_merges_4096") {
      graft.operators.Bpe.learnMerges(big, "text", numMerges = 4096).count()
    }
    // ...but the FIXTURE vocabulary saturates after ~107 merges (the
    // synthetic docs reuse a small word set), so the stage above
    // can't exercise the loop at tokenizer scale. Price the driver
    // loop honestly: a synthetic Zipfian histogram at the full
    // maxVocab bound (65536 distinct words) driven for 8192 merges —
    // exactly the driver-side work a 100 TB natural-language corpus
    // would hand the loop after its (k-invariant) histogram shuffle.
    // The naive recount-everything loop this replaced prices each
    // merge at O(vocab * word length); incremental is O(affected
    // words) — the difference between hours and seconds here.
    timed("bpe_loop_8192_synth") {
      val rnd = new scala.util.Random(7)
      val hist = (0 until 65536).map { i =>
        val w = (0 until 3 + rnd.nextInt(10))
          .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
        (w, math.max(1L, (65536.0 / (i + 1)).toLong))
      }
      graft.operators.Bpe.learnMergesFromHist(hist, 8192).length.toLong
    }
    // seeded corpus shuffle: 16 independent per-shard sorts, no global
    // total order — growth must track n log(n/16), not n log n with a
    // single-partition sort bottleneck
    timed("corpus_shuffle") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("key"))
      // filter on pos so the count can't prune the window (an
      // unreferenced window column folds away and the stage would
      // measure an empty plan)
      big.withColumn("key",
        md5(concat(lit("shuf42:"), col("doc_id").cast("string"))))
        .withColumn("shard", substring(col("key"), 1, 1))
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") > 0).count()
    }
    // held-out bigram LM scoring: the model stays charset^2-bounded
    // under replication (broadcast), scoring is one linear pass
    timed("bigram_quality") {
      val nt = big.select(col("doc_id"),
        TextFunctions.normText(col("text")).as("t"))
      val bg = nt.select(col("doc_id"),
        explode(when(length(col("t")) >= 2,
          transform(sequence(lit(1), length(col("t")) - 1),
            i => col("t").substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))).as("b"))
      val model = bg.filter(col("doc_id") % 2 === 0)
        .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      bg.filter(col("doc_id") % 2 === 1)
        .join(broadcast(model), Seq("b"), "left")
        .groupBy(col("doc_id")).agg(count(lit(1))).count()
    }
    // Jaro-Winkler linkage on a k-way flood: the OUTPUT grows k^2 by
    // definition (every replica pairs with every other), but
    // canonicalize-first keeps the KERNEL k-invariant — jw runs once
    // per distinct title pair; only membership expansion scales with
    // the flood. The naive member-pair join measured 208 s here
    // (single-block quadratic skew); this is the operator d15 ships.
    timed("jaro_linkage_flood") {
      val f = big.select(col("doc_id"), lit("xx").as("lang"),
        substring(TextFunctions.normText(col("text")), 1, 32)
          .as("title"))
      Dedup.jaroLinkage(f, "doc_id", "lang", "title",
        threshold = 0.93).count()
    }
    // TF-IDF keywords: tf agg + vocabulary-bounded broadcast df +
    // per-doc window — growth must track the tf shuffle (linear),
    // never a corpus-side SMJ
    timed("tfidf_keywords") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(((col("tf") * col("n_docs")).cast("double") /
          col("df").cast("double")).desc, col("token"))
      val tf = big.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), Seq("token"))
        .crossJoin(broadcast(big.agg(count(lit(1)).as("n_docs"))))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3).count()
    }
    // learned quality filter: training cost is CAPPED (the id-ordered
    // 100k-row sample — at k>=20 the cap binds, so training wall-time
    // is k-invariant) and scoring is a map-only literal-weight pass —
    // total must grow sublinearly, approaching the bare scan slope
    timed("quality_classifier") {
      val c = graft.operators.Classifier
      val w = c.train(
        big.withColumn("y", (col("doc_id") % 2 === 0).cast("double")),
        "text", "doc_id", "y")
      c.score(big, "text", "doc_id", w.toSeq)
        .filter(col("keep") === 1L).count()
    }
    // curriculum acceptance: pure per-row predicate over a broadcast
    // 3-row epoch table — wall-clock must be a linear scan, 0 shuffles
    timed("curriculum") {
      val epochs = spark.range(0, 3)
        .select(col("id").cast("int").as("epoch"))
      big.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"))
        .crossJoin(broadcast(epochs))
        .withColumn("u",
          conv(substring(md5(concat(lit("curr:"),
            col("epoch").cast("string"), lit(":"),
            col("doc_id").cast("string"))), 1, 15), 16, 10)
            .cast("long").cast("double") / lit(1152921504606846976.0))
        .filter(col("epoch") === 0 ||
          (col("epoch") === 1 && col("u") < col("q")) ||
          (col("epoch") === 2 && col("u") < col("q") * col("q")))
        .count()
    }
    // BPE-priced budget fill (c29's shape) at a REALISTIC merge-table
    // size (1024 — where BPE pricing genuinely diverges from
    // whitespace pricing): ONE histogram shuffle for the merges
    // (k-invariant), a map-only tokenize whose per-word cost is
    // merge-count-independent (greedy-by-rank + per-partition
    // distinct-word memoization), a doc_id join and the bucketed
    // fill — no global sort anywhere
    timed("bpe_token_budget") {
      val merges = graft.operators.Bpe
        .learnMerges(big, "text", numMerges = 1024)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val priced = graft.operators.Bpe
        .tokenize(big, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
      val d = big.select(col("doc_id"),
        floor(TextFunctions.qualityScore(col("text")) * 100)
          .cast("long").as("bucket"))
        .join(priced, Seq("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      d.crossJoin(broadcast(d.agg(sum(col("n_tokens")).as("total"))))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .filter(col("cum") <= expr("total div 2")).count()
    }
    // scene cuts over the replicated corpus-as-video: encode + frame
    // diff are both map-only, so the ladder must be flat-per-row
    // (pure linear scan, zero shuffles)
    timed("scene_cuts") {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.catalyst.encoders.RowEncoder
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("image", BinaryType)))
      val imgs = big
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("p"))
        .mapPartitions { it =>
          it.map { r =>
            Row(r.getLong(0), graft.operators.Multimodal.encodeFakeImage(
              64, 48, "png", r.getAs[Array[Byte]](1)))
          }
        }(RowEncoder.encoderFor(schema))
      graft.operators.Multimodal
        .frameDiffs(imgs, "doc_id", "image", frameBytes = 32)
        .filter(col("diff") >= 1050).count()
    }
    index.unpersist()
    // TEXT band-bucket refinement ladder (the text twin of
    // vecrefine): every doc gains a shared 60-token boilerplate
    // prefix, so the bands whose minhash coordinates all come from
    // the boilerplate crowd the same buckets corpus-wide — the
    // template-family regime. A fixed 10-probe batch of
    // boilerplate-dominated docs must stay feasible (the old code's
    // unbounded broadcast candidates would grow with k; cap-only
    // would find nothing): wall-clock rides the index-scan slope
    // while output stays k-invariant.
    locally {
      val sp = spark
      import sp.implicits._
      val boiler = (1 to 60).map(i => s"tplt$i").mkString(" ")
      val btexts = big.select(col("doc_id"),
        concat(lit(boiler + " "), col("text")).as("text"))
      val tIdx = Dedup.dedupIndex(btexts, "text", "doc_id",
        numHashes = 24).persist()
      timed("textrefine_index") { tIdx.count() }
      val probeIdx = Dedup.dedupIndex(
        (1 to 10).map(i => (930000000L + i.toLong,
          s"$boiler probetail$i")).toDF("doc_id", "text"),
        "text", "doc_id", numHashes = 24).localCheckpoint()
      timed("textrefine_probe") {
        Dedup.incrementalPairs(tIdx, probeIdx, threshold = 0.8,
          numHashes = 24, bands = 8, maxBucketSize = 100).count()
      }
      tIdx.unpersist()
    }
    big.unpersist()

    val ebase = Engine.Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("embedding"))
    val ebig = (0 until k).map { i =>
      ebase.select((col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _)
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    println(s"[smoke] embeddings: ${ebig.count()} vectors")
    timed("embedding_lsh_dups") {
      Dedup.embeddingDupPairs(ebig, "embedding", "vec_id",
        threshold = 0.35).count()
    }
    // every distinct vector is a k-way exact flood: the canonical
    // star must absorb it and the k-means cells see one rep each
    timed("semantic_dups") {
      Dedup.semanticDupPairs(ebig, "embedding", "vec_id",
        threshold = 0.35, nlist = 8, nprobe = 2).count()
    }
    // semantic decontamination: the eval side is FIXED (a benchmark
    // doesn't grow with the corpus) and broadcasts; corpus wall-time
    // must track the bare scan. The k-way flood multiplies flagged
    // rows by k — the only thing allowed to grow is the (tiny)
    // hits-only aggregation input.
    timed("semantic_decontam") {
      val evalSet = ebase.filter(col("vec_id") % 50 === 0)
      graft.operators.Similarity.semanticDecontam(
        ebig.filter(col("vec_id") % 50 =!= 0), evalSet,
        threshold = 0.35).count()
    }
    // cluster-balanced sample: the flood is the adversarial case —
    // every vector is a k-way exact dup, so cells saturate fast.
    // Output is HARD-BOUNDED at nlist x perCluster regardless of k
    // (WindowGroupLimit forwards <= perCluster per cell per task);
    // wall-clock may grow with the scan but output must not.
    timed("cluster_sample") {
      val cents = graft.operators.Similarity.coarseCentroids(
        ebig, "embedding", "vec_id", nlist = 16, seed = 42L,
        maxTrainRows = 100000L)
      val kept = graft.operators.Sampling.clusterBalancedSample(
        ebig, "embedding", "vec_id", cents, perCluster = 50).count()
      require(kept <= 16L * 50, s"cap breached: $kept")
      kept
    }
    timed("quantized_topk") {
      graft.operators.Similarity.quantizedTopK(ebig,
        ebig.filter(col("vec_id") % 500 === 0), k = 5).count()
    }
    // metadata-filtered ANN (s11's production shape) under a
    // selectivity sweep: the predicate lives in a metadata table, the
    // keep set PRE-filters candidates through a semi-join BEFORE any
    // distance math, and scoring runs the lshTopK scale path (the
    // documented swap for s11's exact oracle anchor). At fixed k the
    // three stages must order by SELECTIVITY (10% < 50% < 90% of the
    // corpus surviving), and each fixed selectivity must grow with
    // the ladder — cost tracks surviving candidates, never raw corpus
    Seq(1, 5, 9).foreach { sel =>
      timed(s"filtered_ann_${sel}0pct") {
        val keep = ebig.filter(pmod(col("vec_id"), lit(10)) < sel)
          .select(col("vec_id"))
        val cand = ebig.join(keep, Seq("vec_id"), "left_semi")
        graft.operators.Similarity.lshTopK(cand,
          ebig.filter(col("vec_id") % 500 === 0), k = 5).count()
      }
    }
    // vector append path: index 80% once, probe the other 20% against
    // it (index never re-signed or shuffled; on a k-way flood every
    // batch vector hits a saturated bucket — the cap must hold)
    val vIndex = graft.operators.Dedup.vecDedupIndex(
      ebig.filter(col("vec_id") % 5 =!= 0), "embedding", "vec_id").persist()
    timed("vec_index_build") { vIndex.count() }
    timed("incremental_vec_dedup") {
      graft.operators.Dedup.incrementalVecDups(vIndex,
        ebig.filter(col("vec_id") % 5 === 0), "embedding", "vec_id",
        threshold = 0.35).count()
    }
    vIndex.unpersist()
    // PER-BUCKET LSH REFINEMENT ladder: a DIVERSE corpus (per-replica
    // deterministic noise keeps every vector distinct — exact
    // replicas would canonicalize away, and pure scalings share every
    // deep bit) floods base buckets far past a tight cap. Claim under
    // measurement: candidate volume for a FIXED 10-vector probe stays
    // ~bounded as k grows, because overfull buckets subdivide to
    // deeper stored-signature prefixes instead of growing linearly
    // (or being cap-dropped to zero, the old recall failure). The
    // candidate count is printed AS the row count — flat-ish across
    // rungs is the pass condition; linear growth in k is the fail.
    locally {
      val diverse = ebig.select(col("vec_id"),
        transform(col("embedding"), (x, j) =>
          x + sin(col("vec_id").cast("double") * (j + lit(1))) * lit(0.05))
          .as("embedding"))
      val vIdx2 = graft.operators.Dedup.vecDedupIndex(
        diverse, "embedding", "vec_id").persist()
      timed("vecrefine_index") { vIdx2.count() }
      val probe = graft.operators.Dedup.vecDedupIndex(
        ebase.limit(10).withColumn("vec_id", col("vec_id") + 950000000L),
        "embedding", "vec_id")
      timed("vecrefine_candidates") {
        graft.operators.Dedup.vecCandidates(vIdx2, probe,
          maxBucketSize = 500).count()
      }
      // the full probe (candidates + verify + expansion) on the same
      // flooded index: wall-clock must ride the index-scan slope
      timed("vecrefine_probe") {
        graft.operators.Dedup.incrementalVecPairs(vIdx2, probe,
          threshold = 0.35, maxBucketSize = 500).count()
      }
      vIdx2.unpersist()
    }
    // VecDedupSync ladder (the dsync contract on the vector side):
    // seed the replica corpus as batch 0, then ingest a FIXED
    // 10-vector append. Cost model after the sidecar rework: probe
    // reads prune through VecLog/OccStats to candidate buckets, so
    // appends are BATCH-bound (+ ~|batch|/numBuckets of the index
    // rewritten) — the pass condition is appends FLAT in absolute
    // terms while the seed grows with k, not merely on the old
    // index-scan slope.
    locally {
      val ix = java.nio.file.Files
        .createTempDirectory("smoke_vsync_ix").toString
      val pr = java.nio.file.Files
        .createTempDirectory("smoke_vsync_pr").toString
      timed("vsync_seed_batch0") {
        graft.streaming.VecDedupSync.applyVecs(
          ebig, ix, pr, "embedding", "vec_id", batchId = 0L,
          threshold = 0.35)
        ebig.count()
      }
      (1 to 2).foreach { b =>
        val append = ebase.limit(10).withColumn("vec_id",
          col("vec_id") + lit(960000000L + b.toLong * 1000L))
        timed(s"vsync_append_batch$b") {
          graft.streaming.VecDedupSync.applyVecs(
            append, ix, pr, "embedding", "vec_id", batchId = b.toLong,
            threshold = 0.35)
          append.count()
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pr))
    }
    // PRUNED-PROBE WITNESS (vsyncp) — the vector twin of dsyncp: the
    // replica corpus above is an exact-dup flood (every append vector
    // has k true partners, so candidate growth is semantic, not
    // waste). Here replicas get per-replica SIGN patterns (directions
    // diverge, cosine ~0 across replicas), so the append's candidates
    // pin to its replica-0 partners while the index grows k-fold; a
    // tight maxBucketSize keeps the coarse 16-bucket base refined, so
    // the probe reads ~cap-sized VecLog partitions however large the
    // corpus. Pass condition: appends FLAT and LOW across k.
    locally {
      val ix = java.nio.file.Files
        .createTempDirectory("smoke_vsyncp_ix").toString
      val pr = java.nio.file.Files
        .createTempDirectory("smoke_vsyncp_pr").toString
      // each replica flips a rep-UNIQUE pseudo-random half of the
      // dimensions (xxhash64(d, rep) parity): cross-replica cosine
      // ~0 AND no two replicas share a pattern — the first cut's
      // pmod(d+rep, 5) had only 5 patterns, so at k=40 every vector
      // carried 8 EXACT copies and the probe's member fetch was
      // SEMANTICALLY obliged to pull k/5 cluster members per
      // candidate (member growth masquerading as probe slope)
      def signed(df: org.apache.spark.sql.DataFrame, rep: Int) =
        df.select(
          (col("vec_id") + lit(rep.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"), (x, d) =>
            when(pmod(xxhash64(d, lit(rep)), lit(2)) === 0, -x)
              .otherwise(x))
            .as("embedding"))
      val distinct = (0 until k).map(i => signed(ebase, i))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
      val append = signed(ebase.limit(10), 0)
        .withColumn("vec_id", col("vec_id") + lit(950000000L))
      // storage evolution DISARMED (maxBucketBytes=MaxValue): this
      // stage witnesses the PROBE path alone — an armed fixture-scale
      // index wants to CONTRACT its oversized 256-bucket bootstrap
      // (4 bounded reverse merges per batch, each reading buckets
      // that grow with the seed until they reach maxBucketBytes),
      // which is legitimate maintenance measured by its own stages
      // (dsync_evo/tshrink) but would mask the probe's flatness here
      // payloadBucketBytes sized to the deployment's fetch sets (the
      // PayloadLog read bound is |fetch| x bucket bytes: ~64 KB keeps
      // the point fetch candidate-ROW-proportional at fixture scale;
      // a warehouse sizes it up against file count)
      timed("vsyncp_seed_batch0") {
        graft.streaming.VecDedupSync.applyVecs(
          distinct, ix, pr, "embedding", "vec_id", batchId = 0L,
          threshold = 0.35, maxBucketSize = 200,
          maxBucketBytes = Long.MaxValue,
          payloadBucketBytes = 64L << 10)
        distinct.count()
      }
      // six appends, not two: the early ones carry JIT/codegen warmup
      // (run-to-run spread of ±2 s on a cold JVM), so the FLOOR this
      // stage witnesses is the warm tail — still below the fanout-8
      // fold cadence, so no append pays a sidecar fold
      (1 to 6).foreach { b =>
        timed(s"vsyncp_append_batch$b") {
          graft.streaming.VecDedupSync.applyVecs(
            append.withColumn("vec_id", col("vec_id") + lit(b * 1000L)),
            ix, pr, "embedding", "vec_id", batchId = b.toLong,
            threshold = 0.35, maxBucketSize = 200,
            maxBucketBytes = Long.MaxValue,
            payloadBucketBytes = 64L << 10)
          append.count()
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pr))
    }
    // ADVERSARIAL PREFILTER WITNESS (vsync_adv): a corpus built so
    // candidate pairs crowd the threshold — one shared direction plus
    // per-id ±a orthogonal noise, a sized so pairwise cosine ≈ the
    // 0.35 threshold — makes the sound int8 upper bound nearly
    // unselective (the disclosed data-dependent worst case: it can
    // only refute pairs provably BELOW threshold, and almost nothing
    // is provably below). The witness measures the probe wall at the
    // prefilter's floor: survivors ≈ candidates, every one exactly
    // verified. Failure mode is bounded wall-clock, never driver
    // memory — past MaxDriverSurvivors the batch re-runs the
    // distributed probe.
    locally {
      val ix = java.nio.file.Files
        .createTempDirectory("smoke_vsyncadv_ix").toString
      val pr = java.nio.file.Files
        .createTempDirectory("smoke_vsyncadv_pr").toString
      val advN = 2000L * k // scale with the ladder
      val a = 0.1716f // a^2 * 63 ≈ 1.857 -> E[cos] ≈ 0.35
      def adv(ids: org.apache.spark.sql.DataFrame) = ids.select(
        col("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          when(d === 0, lit(1.0f)).otherwise(
            when(pmod(xxhash64(col("vec_id"), d), lit(2)) === 0,
              lit(a)).otherwise(lit(-a))))
          .as("embedding"))
      val seed = adv(spark.range(advN).select(col("id").as("vec_id")))
      val appendIds = spark.range(advN, advN + 10L)
        .select(col("id").as("vec_id"))
      timed("vsync_adv_seed") {
        graft.streaming.VecDedupSync.applyVecs(
          seed, ix, pr, "embedding", "vec_id", batchId = 0L,
          threshold = 0.35, maxBucketSize = 200,
          maxBucketBytes = Long.MaxValue,
          payloadBucketBytes = 64L << 10)
        seed.count()
      }
      (1 to 2).foreach { b =>
        timed(s"vsync_adv_append$b") {
          graft.streaming.VecDedupSync.applyVecs(
            adv(appendIds.select((col("vec_id") + lit(b * 100L))
              .as("vec_id"))),
            ix, pr, "embedding", "vec_id", batchId = b.toLong,
            threshold = 0.35, maxBucketSize = 200,
            maxBucketBytes = Long.MaxValue,
            payloadBucketBytes = 64L << 10)
          appendIds.count()
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pr))
    }
    // ANN-INDEX LIFECYCLE LADDER (annlife) — s18–s21's scale witness
    // (the dedup sinks had ladders; the persisted-artifact lifecycle
    // had none): build → probe → append → probe → delete → probe →
    // forced drift-rebuild → probe, over k x |embeddings| DISTINCT
    // vectors (per-replica sign patterns — exact replicas would say
    // nothing about cell balance). Claims under measurement:
    //  - append/delete are BATCH-bound: they project/write their own
    //    seg=<id> subtree and never read existing segments, so their
    //    wall must stay FLAT as k grows;
    //  - probes ride nprobe/nlist of the corpus BYTES (partition-
    //    pruned scans), so they may grow ~linearly in k but never
    //    super-linearly;
    //  - the forced rebuild reads the live rows once (the
    //    rebuildCostRows cost model) — ~linear in k, which is exactly
    //    why maybeRebuild's churn gate exists: at 100 TB the rewrite
    //    must amortize against >= 10% corpus churn.
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_annlife").toString
      def signedA(df: org.apache.spark.sql.DataFrame, rep: Int) =
        df.select(
          (col("vec_id") + lit(rep.toLong * 10000000L)).as("vec_id"),
          transform(col("embedding"), (x, d) =>
            when(pmod(xxhash64(d, lit(rep)), lit(2)) === 0, -x)
              .otherwise(x))
            .as("embedding"))
      val corpus = (0 until k).map(i => signedA(ebase, i))
        .reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val corpusN = corpus.count()
      // plain persisted projections, NOT localCheckpoints: timed()
      // frees checkpoint blocks between stages, and these frames are
      // deterministic ebase derivations anyway
      val queries = signedA(ebase.limit(50), 0)
        .withColumn("vec_id", col("vec_id") + lit(950000000L))
        .persist()
      val appendB = signedA(ebase.limit(1000), 1)
        .withColumn("vec_id", col("vec_id") + lit(960000000L))
        .persist()
      val deadIds = appendB.limit(500).select(col("vec_id"))
        .persist()
      timed("annlife_build") {
        graft.operators.AnnIndex.build(corpus, dir, nlist = 64)
        corpusN
      }
      timed("annlife_probe0") {
        graft.operators.AnnIndex.probe(spark, dir, queries, k = 10)
          .count()
      }
      timed("annlife_append") {
        graft.operators.AnnIndex.append(appendB, dir, segId = 1L)
        1000L
      }
      timed("annlife_probe1") {
        graft.operators.AnnIndex.probe(spark, dir, queries, k = 10)
          .count()
      }
      timed("annlife_delete") {
        graft.operators.AnnIndex.delete(deadIds, dir, segId = 2L)
        500L
      }
      timed("annlife_probe2") {
        graft.operators.AnnIndex.probe(spark, dir, queries, k = 10)
          .count()
      }
      // forced rebuild (tolerance < 0 always recommends; churn gate
      // off): measures the full retrain + rotation at this corpus
      // size — the rebuildCostRows claim, witnessed
      timed("annlife_rebuild") {
        graft.operators.AnnIndex.maybeRebuild(spark, dir, sample = 16,
          k = 10, tolerance = -1.0, minChangedFraction = 0.0)
        corpusN + 500L
      }
      timed("annlife_probe3") {
        graft.operators.AnnIndex.probe(spark, dir, queries, k = 10)
          .count()
      }
      corpus.unpersist()
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
    // PQ/ADC: codebook trains on a BOUNDED sample regardless of k
    // (fixed driver cost); the scan does m lookup reads per pair over
    // 4-bit codes, so growth must track the candidate count only
    timed("pq_topk") {
      graft.operators.Similarity.pqTopK(ebig,
        ebig.filter(col("vec_id") % 500 === 0), k = 5,
        m = 16, refine = 8).count()
    }
    // JL sketch ANN: one linear 16-dim scan + shortlist rescore —
    // growth must be linear in corpus size per query
    timed("randproj_topk") {
      graft.operators.Similarity.randProjTopK(ebig,
        ebig.filter(col("vec_id") % 500 === 0), k = 5).count()
    }
    ebig.unpersist()

    // TableSync write amplification: seed the full replica corpus as
    // batch 0 (256 buckets), then apply a 10-key CDC batch. The v1
    // rewrite must touch <= 10 buckets, so its bytes must stay a few
    // percent of v0's AT EVERY k — the sub-table-rewrite property the
    // r06 verdict demanded, measured rather than asserted.
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_tsync").toString
      val seed = big.withColumn("ver", lit(0L))
      timed("tsync_seed_batch0") {
        graft.streaming.TableSync.applyBatch(
          seed, dir, "doc_id", "ver", batchId = 0L, numBuckets = 256)
        n
      }
      val delta = big.filter(col("doc_id") % (n / 10) === 3)
        .withColumn("text", concat(col("text"), lit(" [updated]")))
        .withColumn("ver", lit(1L))
      timed("tsync_small_batch1") {
        graft.streaming.TableSync.applyBatch(
          delta, dir, "doc_id", "ver", batchId = 1L)
        delta.count()
      }
      def dirBytes(name: String): Long = {
        val d = new java.io.File(dir, name)
        if (!d.isDirectory) 0L
        else java.nio.file.Files.walk(d.toPath).iterator().asScala
          .map(_.toFile).filter(_.isFile).map(_.length()).sum
      }
      val (b0, b1) = (dirBytes("v0"), dirBytes("v1"))
      if (active("tsync"))
        println(f"[smoke] tsync_amplification   v0=$b0%d bytes  " +
          f"v1=$b1%d bytes  ratio=${b1.toDouble / b0}%.4f " +
          "(<= ~10/256 + parquet floor)")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

    // CONTRACTION ladder: a table whose CONTENT shrank (here: a
    // compaction-style batch replaces every text with a tiny attr)
    // but whose SCHEME is stuck wide pays the per-bucket small-file
    // floor on every append forever — the regression the dsync ladder
    // measured at 2048 buckets. Armed contraction merges the scheme
    // back down by bounded reverse steps per batch; the printed
    // scheme trail plus append timings must show the wide floor
    // recovering toward the small-table floor as merges land.
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_tshrink").toString
      timed("tshrink_seed256") {
        graft.streaming.TableSync.applyBatch(
          big.withColumn("ver", lit(0L)), dir, "doc_id", "ver",
          batchId = 0L, numBuckets = 256)
        n
      }
      timed("tshrink_compact") {
        graft.streaming.TableSync.applyBatch(
          big.select(col("doc_id"), lit(1L).as("ver"),
            lit("x").as("text")), dir, "doc_id", "ver", batchId = 1L)
        n
      }
      def append(b: Long, armed: Boolean): Unit = {
        val ap = base.limit(10).select(
          (col("doc_id") + lit(920000000L + b * 1000L)).as("doc_id"),
          lit(b).as("ver"), col("text"))
        graft.streaming.TableSync.applyBatch(ap, dir, "doc_id", "ver",
          batchId = b,
          maxBucketBytes = if (armed) 1L << 20 else Long.MaxValue,
          splitsPerBatch = 32)
      }
      timed("tshrink_append_wide") { append(2L, armed = false); 10L }
      (3 to 11).foreach { b =>
        timed(f"tshrink_append$b") { append(b.toLong, armed = true); 10L }
        if (active(s"tshrink_append$b")) {
          val (nb2, s2) =
            graft.streaming.TableSync.bucketScheme(spark, dir)
          println(s"[smoke] tshrink scheme after b$b = ($nb2, $s2)")
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

    // AggSync maintained DISTINCT view (KMV state): batch 0 seeds the
    // full replica corpus into a per-source-bucket sketch table, then
    // a 10-key batch folds in. The claim under test is O(|delta|)
    // per batch: batch-1 wall-clock and rewritten
    // bytes must stay flat as k grows (state is <= 64 longs per key
    // REGARDLESS of accumulated volume — the sketch's whole point).
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_aggsync").toString
      val ev = big.select(
        pmod(col("doc_id"), lit(1000)).cast("string").as("key"),
        col("doc_id").as("v"))
      timed("aggsync_kmv_seed") {
        graft.streaming.AggSync.applyKmvDelta(
          ev, dir, "key", "v", batchId = 0L)
        n
      }
      // the micro-batch is constructed delta-sized (a real stream
      // hands the fold ONLY the batch): 1000 rows over 10 keys,
      // independent of k — so this stage must stay FLAT as the
      // accumulated view above it grows with the ladder
      val delta = spark.range(0, 1000).select(
        pmod(col("id"), lit(10)).cast("string").as("key"),
        (col("id") * 7919L).as("v"))
      timed("aggsync_kmv_batch1") {
        graft.streaming.AggSync.applyKmvDelta(
          delta, dir, "key", "v", batchId = 1L)
        delta.count()
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

    // aggsyncp: the PROGRESSIVE rung the other sinks already have
    // (dsyncp/vsyncp/annlife — round-17 order #5). Claim under test:
    // a maintained view's per-batch cost is O(|delta|) ACROSS BUCKET
    // EVOLUTION — seed 100k keys into BOTH maintained views
    // (count/sum and KMV distinct), arm maxBucketBytes low enough
    // that the accumulated view keeps forcing linear-hash splits,
    // then fold a FIXED 1k-row/100-key delta per batch. Pass
    // condition: warm tails (batches ~6+) stay FLAT in accumulated
    // volume while the scheme visibly widens — a slope here would
    // mean a batch pays O(view): each delta lands as one more
    // generation, and only the maxGens bucket folds and the splits
    // read stored rows.
    locally {
      val cs = java.nio.file.Files
        .createTempDirectory("smoke_aggsyncp_cs").toString
      val km = java.nio.file.Files
        .createTempDirectory("smoke_aggsyncp_kmv").toString
      val nKeys = 100000L
      val seed = spark.range(0, 3L * nKeys).select(
        concat(lit("k"), pmod(col("id"), lit(nKeys))).as("key"),
        (col("id") % 97).cast("double").as("v"))
      def scheme(dir: String): String = {
        val (nb, s) = graft.streaming.TableSync.bucketScheme(spark, dir)
        s"($nb, $s)"
      }
      timed("aggsyncp_seed_cs") {
        graft.streaming.AggSync.applyDelta(seed, cs, "key", "v",
          batchId = 0L, numBuckets = 8, maxBucketBytes = 32768L,
          splitsPerBatch = 4, maxGens = 4)
        3L * nKeys
      }
      timed("aggsyncp_seed_kmv") {
        graft.streaming.AggSync.applyKmvDelta(seed, km, "key", "v",
          batchId = 0L, k = 64, numBuckets = 8,
          maxBucketBytes = 32768L, splitsPerBatch = 4, maxGens = 4)
        3L * nKeys
      }
      println(s"[smoke] aggsyncp schemes after seed: cs=${scheme(cs)} " +
        s"kmv=${scheme(km)}")
      (1 to 12).foreach { b =>
        // fixed-size delta over EXISTING keys spread across the hash
        // space (so folds touch real prior state, not fresh buckets)
        val delta = spark.range(0, 1000).select(
          concat(lit("k"),
            pmod(lit(b.toLong) * 977L + col("id") * 997L, lit(nKeys)))
            .as("key"),
          (col("id") * 7919L + b).cast("double").as("v"))
        timed(s"aggsyncp_cs_batch$b") {
          graft.streaming.AggSync.applyDelta(delta, cs, "key", "v",
            batchId = b.toLong, numBuckets = 8,
            maxBucketBytes = 32768L, splitsPerBatch = 4, maxGens = 4)
          1000L
        }
        timed(s"aggsyncp_kmv_batch$b") {
          graft.streaming.AggSync.applyKmvDelta(
            delta.select(col("key"), col("v").cast("long").as("v")),
            km, "key", "v", batchId = b.toLong, k = 64,
            numBuckets = 8, maxBucketBytes = 32768L,
            splitsPerBatch = 4, maxGens = 4)
          1000L
        }
      }
      println(s"[smoke] aggsyncp schemes after tails: cs=${scheme(cs)} " +
        s"kmv=${scheme(km)}")
      // the views stayed correct through the evolution: every seeded
      // key still present, counts positive
      val viewRows = graft.streaming.AggSync.readView(spark, cs).count()
      val kmvRows = graft.streaming.AggSync
        .readDistinctView(spark, km).count()
      println(s"[smoke] aggsyncp view rows: cs=$viewRows kmv=$kmvRows " +
        s"(expect $nKeys each)")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(cs))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(km))
    }

    // DedupSync online-dedup ingestion: seed the full replica corpus
    // as batch 0 (one-time bootstrap: within-batch dedup of the k-way
    // flood + index write), then ingest a small append batch at
    // d10's practical parameters (24 hashes / 8 bands). Cost model
    // after the sidecar rework: the probe resolves the batch's band
    // keys through the KeyedLog sidecar and reads only candidate
    // index buckets, so batch-1 is BATCH-bound (+ ~|batch|/numBuckets
    // of the index rewritten) — the pass condition is appends FLAT in
    // absolute terms across k, no longer riding the index-scan slope.
    // (This ladder caught both storage bugs in the first cut:
    // TableSync-stored pairs rewrote ALL accumulated pairs per batch,
    // and 256 index buckets under a 500-doc batch rewrote 87% of the
    // index; in round 12 it is the pruned-probe slope witness.)
    locally {
      val ix = java.nio.file.Files
        .createTempDirectory("smoke_dsync_ix").toString
      val pr = java.nio.file.Files
        .createTempDirectory("smoke_dsync_pr").toString
      val seed = big
      // a REAL micro-batch: 10 new docs (fixed, k-independent — the
      // streaming regime is small frequent batches), ids fresh, each
      // a planted dup of an indexed doc. Touched buckets <= 10 of
      // 256, so the rewrite is a few percent of the index; what may
      // grow with k is only the index SCAN.
      val append = base.limit(10)
        .withColumn("doc_id", col("doc_id") + 900000000L)
      timed("dsync_seed_batch0") {
        graft.streaming.DedupSync.applyDocs(
          seed, ix, pr, "text", "doc_id", batchId = 0L,
          threshold = 0.5, numHashes = 24, bands = 8)
        seed.count()
      }
      timed("dsync_append_batch1") {
        graft.streaming.DedupSync.applyDocs(
          append, ix, pr, "text", "doc_id", batchId = 1L,
          threshold = 0.5, numHashes = 24, bands = 8)
        append.count()
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pr))
    }

    // PRUNED-PROBE WITNESS (dsyncp): the replica corpus above
    // conflates two growth axes — every append doc there has k TRUE
    // near-dup partners, so candidate volume (and the legitimately
    // candidate-proportional work) grows with k and masks the probe's
    // index-independence. This corpus grows with DISSIMILAR docs
    // instead (every token carries a replica suffix, so no shingle —
    // hence no band key, no fingerprint — crosses replicas): the
    // append's candidate set is pinned to its replica-0 partners
    // while the index grows k-fold. Pass condition: append wall-clock
    // FLAT and LOW across k — this is the stage that would have
    // exposed the old full-scan probe instantly.
    locally {
      val ix = java.nio.file.Files
        .createTempDirectory("smoke_dsyncp_ix").toString
      val pr = java.nio.file.Files
        .createTempDirectory("smoke_dsyncp_pr").toString
      val distinct = (0 until k).map { i =>
        base.select(
          (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1z" + i).as("text"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
      val append = base.limit(10)
        .select((col("doc_id") + 900000000L).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1z0").as("text"))
      // evolution disarmed — same rationale as vsyncp: the probe
      // witness must not fold the bootstrap-oversized scheme's
      // bounded contraction maintenance into its slope
      timed("dsyncp_seed_batch0") {
        graft.streaming.DedupSync.applyDocs(
          distinct, ix, pr, "text", "doc_id", batchId = 0L,
          threshold = 0.5, numHashes = 24, bands = 8,
          maxBucketBytes = Long.MaxValue,
          payloadBucketBytes = 64L << 10)
        distinct.count()
      }
      // six appends (vsyncp's rationale): the warm tail is the floor
      (1 to 6).foreach { b =>
        timed(s"dsyncp_append_batch$b") {
          graft.streaming.DedupSync.applyDocs(
            append.withColumn("doc_id", col("doc_id") + lit(b * 1000L)),
            ix, pr, "text", "doc_id", batchId = b.toLong,
            threshold = 0.5, numHashes = 24, bands = 8,
            maxBucketBytes = Long.MaxValue,
            payloadBucketBytes = 64L << 10)
          append.count()
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pr))
    }

    // ADVERSARIAL BUCKET-FLOOD WITNESS (dsync_adv) — the text twin of
    // vsync_adv: every doc opens with the SAME 40-token boilerplate,
    // so the minhash signature is dominated by shared shingles and
    // every band key collides corpus-wide — every bucket overfull at
    // cap 10 no matter the corpus size. The refinement ladder appends
    // signature coordinates that CORRELATE with the very boilerplate
    // that crowds the buckets (they shrink slowly, not by half), so
    // this corpus holds the refined-key path at its floor: three
    // rounds, then the cap's bounded-drop semantics. Per-doc unique
    // tails push pairwise jaccard (~0.31) below the 0.5 threshold, so
    // verification kills everything and the measured wall is PURE
    // probe machinery. Pass condition: append wall BOUNDED and ~flat
    // across k — candidates per append are capped per refined bucket,
    // never corpus-proportional; failure mode is bounded wall, never
    // unbounded candidate expansion (the pre-round-11 state).
    locally {
      val ix = java.nio.file.Files
        .createTempDirectory("smoke_dsyncadv_ix").toString
      val pr = java.nio.file.Files
        .createTempDirectory("smoke_dsyncadv_pr").toString
      val advN = 2000L * k
      val boiler = (1 to 40).map(i => s"tmpl$i").mkString(" ")
      def adv(ids: org.apache.spark.sql.DataFrame) = ids.select(
        col("doc_id"),
        concat(lit(boiler + " "),
          array_join(transform(sequence(lit(0), lit(39)),
            d => concat(lit("w"), xxhash64(col("doc_id"), d))), " "))
          .as("text"))
      val seed = adv(spark.range(advN).select(col("id").as("doc_id")))
      val appendIds = spark.range(advN, advN + 10L)
        .select(col("id").as("doc_id"))
      timed("dsync_adv_seed") {
        graft.streaming.DedupSync.applyDocs(
          seed, ix, pr, "text", "doc_id", batchId = 0L,
          threshold = 0.5, numHashes = 24, bands = 8,
          maxBucketSize = 10, maxBucketBytes = Long.MaxValue,
          payloadBucketBytes = 64L << 10)
        seed.count()
      }
      // floor 0 pins the DRIVER-RESOLVED path across every ladder k
      // (the committed-bytes gate would flip paths as the flooded
      // index crosses its 16 MB floor, muddying the curve); the flood
      // stresses
      // exactly the new machinery — candidate collects, coverage
      // gate, refined-key resolution over corpus-wide-overfull
      // buckets
      (1 to 3).foreach { b =>
        timed(s"dsync_adv_append$b") {
          graft.streaming.DedupSync.applyDocs(
            adv(appendIds.select((col("doc_id") + lit(b * 100L))
              .as("doc_id"))),
            ix, pr, "text", "doc_id", batchId = b.toLong,
            threshold = 0.5, numHashes = 24, bands = 8,
            maxBucketSize = 10, maxBucketBytes = Long.MaxValue,
            payloadBucketBytes = 64L << 10,
            driverProbeMinIndexBytes = 0L)
          appendIds.count()
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pr))
    }

    // BUCKET EVOLUTION (round 9's one open scale gap, closed): a
    // SECOND index bootstraps at a deliberately undersized 16
    // buckets, then maxBucketBytes-armed appends let linear-hashing
    // splits widen the scheme online while ingestion continues. The
    // contract under measurement: a batch performs AT MOST
    // splitsPerBatch splits (one bucket read, two written, each
    // ~maxBucketBytes once converged), so per-append wall-clock must
    // stay FLAT across the batches — and across ladder k — while the
    // scheme visibly widens beneath them; growth can never degrade
    // an append toward a whole-table rewrite. The printed scheme
    // trail is the evolution record.
    locally {
      val ix = java.nio.file.Files
        .createTempDirectory("smoke_dsync_evo_ix").toString
      val pr = java.nio.file.Files
        .createTempDirectory("smoke_dsync_evo_pr").toString
      timed("dsync_evo_seed16") {
        graft.streaming.DedupSync.applyDocs(
          big, ix, pr, "text", "doc_id", batchId = 0L,
          threshold = 0.5, numHashes = 24, bands = 8, numBuckets = 16)
        big.count()
      }
      (1 to 8).foreach { b =>
        val append = base.limit(10).withColumn("doc_id",
          col("doc_id") + lit(910000000L + b.toLong * 1000L))
        timed(f"dsync_evo_append$b") {
          graft.streaming.DedupSync.applyDocs(
            append, ix, pr, "text", "doc_id", batchId = b.toLong,
            threshold = 0.5, numHashes = 24, bands = 8,
            numBuckets = 16, maxBucketBytes = 256L << 10,
            splitsPerBatch = 4)
          append.count()
        }
        if (active(s"dsync_evo_append$b")) {
          val (nb2, s2) = graft.streaming.TableSync.bucketScheme(spark, ix)
          println(s"[smoke] dsync_evo scheme after b$b = ($nb2, $s2)")
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pr))
    }

    // JobStream driver-side input stat: the directory holds 20k
    // files; batches of 1k/5k/20k names resolve through statNames'
    // bulk listStatus path, so wall-clock must stay ~FLAT vs batch
    // width (one listing RPC dominates; map lookups are noise) — the
    // per-file path this replaced grew linearly in RPC count.
    locally {
      val dir = java.nio.file.Files.createTempDirectory("smoke_stat")
      // fixture needed if ANY jobstat stage will run (a selective
      // filter like "jobstat_1000" matches only its own label)
      if (Seq(1000, 5000, 20000).exists(b => active(s"jobstat_$b"))) {
        (1 to 20000).foreach(i =>
          java.nio.file.Files.write(dir.resolve(s"f$i.dat"), Array[Byte](1)))
      }
      val basep = new org.apache.hadoop.fs.Path(dir.toString)
      val fs = basep.getFileSystem(spark.sessionState.newHadoopConf())
      Seq(1000, 5000, 20000).foreach { b =>
        timed(s"jobstat_$b") {
          val names = (1 to b).map(i => s"f$i.dat").toArray ++
            Array("absent.dat")
          graft.streaming.JobStream.statNames(fs, basep, names)
            .count(_._2.isDefined).toLong
        }
      }
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // WebDataset tar shards: pack the replica corpus into 64 shards
    // (one tar per task, shard-parallel write), read it all back.
    // Growth must be linear in k with flat per-shard cost — the
    // container adds framing, never a shuffle beyond the one
    // partition-by-shard exchange.
    locally {
      val dir = java.nio.file.Files
        .createTempDirectory("smoke_tar").toString
      val src = big.select(
        concat(lit("doc_"), col("doc_id"), lit(".txt")).as("name"),
        encode(col("text"), "UTF-8").as("bytes"),
        pmod(col("doc_id"), lit(64)).cast("string").as("shard"))
      timed("tar_write_64shards") {
        graft.sources.TarShards
          .writeShards(src, "name", "bytes", "shard", dir).count()
      }
      timed("tar_read_back") {
        graft.sources.TarShards.readShards(spark, dir).count()
      }
      // selective access through the index sidecars: 100 members out
      // of the whole corpus. Wall-clock must stay FLAT as k grows
      // (IO is seek + exactly header+payload per selected member).
      // At fixture payload sizes (tiny texts) the full read above is
      // ALSO sub-second — header parsing runs ~1.5M members/s — so
      // the ladder pins flatness, not a dramatic gap; the
      // bytes-never-touched property itself is spec-proven
      // (TarShardsSpec's corrupt-header no-touch test), and the gap
      // materializes with multi-GB payloads the fixture cannot carry.
      timed("tar_read_100_by_name") {
        val names = (0 until 100).map(i => s"doc_${i * 37}.txt")
        graft.sources.TarShards.readMembersByName(spark, dir, names)
          .count()
      }
      timed("tar_index_manifest") {
        graft.sources.TarShards.readIndex(spark, dir)
          .agg(count(lit(1)), sum(col("size"))).count()
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    spark.stop()
  }
}
