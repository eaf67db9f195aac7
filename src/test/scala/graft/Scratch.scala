package graft

import org.apache.spark.sql.SparkSession

/** Simulates the driver's t1 smoke with a BARE session — no UTC, no
  * shuffle-partition tuning, defaults only — to catch config-dependent
  * assumptions in SparkEntry.entry.
  */
object BareEntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"ENTRY_ROWS=${SparkEntry.entry(spark).count()}")
    spark.stop()
  }
}

/** Dev scratch main: run a subset of SparkEntry queries with full stack
  * traces (Verify swallows them into one line).
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val t0 = System.nanoTime()
      println(s"=== $n ===")
      try {
        if (n.startsWith("stress:")) {
          // 20x-duplicated corpus: 100k docs, every text in 20 copies —
          // worst-case shape for dedup candidate generation
          import org.apache.spark.sql.functions._
          val base = search.Indexer.documents(spark, sfDir)
          // the +i*1M copy-id scheme (and the winnow/shuffle cases'
          // doc_id < 1M base-copy filters) needs the base ids below 1M
          // — fail loudly on a corpus where copies would collide
          val maxIdRow = base.agg(max("doc_id")).first()
          require(!maxIdRow.isNullAt(0) && maxIdRow.getLong(0) < 1000000L,
            s"stress corpus at $sfDir is empty or has doc_id >= 1000000; " +
              "copy ids would collide")
          val big = (0 until 20).map(i => base.withColumn("doc_id",
            col("doc_id") + lit(i * 1000000L))).reduce(_ unionByName _)
          n.stripPrefix("stress:") match {
            case "exact" =>
              val d = ops.Dedup.exact(big)
              println(s"groups=${d.count()} max_copies=${d.agg(max("n_copies")).first().getLong(0)}")
            case "minhash" =>
              // the verified path with the ENTRY's config on the 20×
              // corpus: exact-set collapse must bring the LSH back to
              // base-corpus size, and the bucket cap bounds candidate
              // generation at bands·reps·(cap-1)/2 regardless of input
              val keyed = ops.Dedup.shingleSets(big, 3)
                .select(col("doc_id"), col("sh"), size(col("sh")).as("nsh"),
                  ops.Dedup.setDigest(col("sh")).as("k"))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              val groups = keyed.join(
                keyed.groupBy("k").agg(min("doc_id").as("rep")), "k")
              val nDocs = groups.count()
              val reps = groups.filter(col("nsh") > 0 && col("doc_id") === col("rep"))
              val nReps = reps.count()
              // mirrors the r14 banding: shingles hashed once, band
              // minima from the longs, bucket = hash of the minima array
              val banded = reps
                .select(col("doc_id"),
                  transform(col("sh"), s => xxhash64(s)).as("__hs"))
                .select(col("doc_id"), posexplode(
                  transform(sequence(lit(0), lit(31)), bnd =>
                    xxhash64(transform(sequence(bnd, bnd),
                      i => array_min(transform(col("__hs"), h => xxhash64(h, i)))), bnd)))
                .as(Seq("band", "bucket")))
              val cap = 16
              val kept = banded.join(
                banded.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
                  .filter(col("bsz") <= cap).select("band", "bucket"),
                Seq("band", "bucket"), "left_semi")
              val nCand = kept.select(col("band"), col("bucket"), col("doc_id").as("a"))
                .join(kept.select(col("band"), col("bucket"), col("doc_id").as("b")),
                  Seq("band", "bucket"))
                .filter(col("a") < col("b"))
                .groupBy("a", "b").agg(count(lit(1)).as("nb"))
                .filter(col("nb") >= 2).count()
              val bound = 32L * nReps * (cap - 1) / 2
              keyed.unpersist()
              val pairs = ops.Dedup.minHashLshVerified(big, 3, 32, 32, 0.2, cap, 2).count()
              println(s"docs=$nDocs reps=$nReps candidatePairs=$nCand " +
                s"bound=$bound withinBound=${nCand <= bound} pairs(j>=0.2)=$pairs")
            case "index" =>
              val idx = search.Indexer.postings(big)
              println("postings=" + idx.count())
            case "search" =>
              val idx = search.Indexer.postings(big)
              val r = search.SearchEngine.search("(spark or data) and join and not dup", idx, big)
              println("hits=" + r.count())
            case "simhash" =>
              println("pairs=" + ops.Dedup.simHashPairs(big, 2, 3).count())
            case "cc" =>
              // connected components over 100k nodes: 20-copy exact-dup
              // groups (star edges) + a 101-group path that forces
              // multi-round large/small-star convergence
              val withHash = big.select(col("doc_id"), md5(col("text")).as("h"))
              val keeper = withHash.groupBy("h").agg(min("doc_id").as("k"))
              val stars = withHash.join(keeper, "h")
                .filter(col("doc_id") =!= col("k"))
                .select(col("k").as("doc_a"), col("doc_id").as("doc_b"))
              val path = base.select(col("doc_id").as("doc_a"),
                (col("doc_id") + 1).as("doc_b")).filter(col("doc_a") < 100)
              val cl = ops.Dedup.clusters(stars.unionByName(path))
              val sizes = cl.groupBy("cluster_id").count()
              println(s"nodes=${cl.count()} clusters=${sizes.count()} " +
                s"maxCluster=${sizes.agg(max("count")).first().getLong(0)}")
            case "jaccard" =>
              // candidate-generation bound: the guard drops hot shingles
              // (every shingle here has freq >= 20 from duplication; the
              // template shingles reach thousands) while the 20-copy
              // groups' rare shingles (freq ~20) survive, so true
              // near-dup pairs are still found with a fraction of the
              // join cost. Prints candidate counts guarded vs exact.
              def candidates(maxFreq: Int): Long = {
                val sh = ops.Dedup.shingles(big, 3)
                val kept =
                  if (maxFreq == Int.MaxValue) sh
                  else {
                    val hot = sh.groupBy("shingle").agg(count("*").as("freq"))
                      .filter(col("freq") > maxFreq)
                    sh.join(broadcast(hot.select("shingle")), Seq("shingle"), "left_anti")
                  }
                kept.select(col("doc_id").as("a"), col("shingle"))
                  .join(kept.select(col("doc_id").as("b"), col("shingle")), Seq("shingle"))
                  .filter(col("a") < col("b")).count()
              }
              val guarded = candidates(100)
              val pairs = ops.Dedup.ngramJaccard(big, 3, 0.9, maxShingleFreq = 100).count()
              println(s"guarded(maxFreq=100): candidateRows=$guarded pairs(j>=0.9)=$pairs")
              val exact = candidates(Int.MaxValue)
              println(s"exact: candidateRows=$exact bound=${exact / math.max(guarded, 1)}x")
            case "lines" =>
              // worst-case boilerplate: every synthetic 10-token line
              // exists in >= 20 copies; first-occurrence dedup must
              // collapse them map-side (min partial agg), never k^2
              val d = ops.TextAnalysis.dedupLines(
                ops.TextAnalysis.synthesizeLines(big, 10))
              val kept = d.agg(sum("n_kept"), sum("n_lines")).first()
              println(s"docs=${d.count()} keptLines=${kept.getLong(0)} " +
                s"totalLines=${kept.getLong(1)}")
            case "pack" =>
              // 100k docs through the two-level prefix sum (bucketSize
              // 4096 -> ~5k buckets incl. the 20 id-shifted copies);
              // invariant: last end offset == total token count, and
              // the manifest refills every doc exactly
              val p = ops.TextAnalysis.packSequences(big, ctxLen = 2048,
                bucketSize = 4096)
              val total = p.agg(sum("n_tokens")).first().getLong(0)
              val lastEnd = p.orderBy(col("start_tok").desc).limit(1)
                .select(col("start_tok") + col("n_tokens")).first().getLong(0)
              val m = ops.TextAnalysis.packManifest(big, ctxLen = 2048,
                bucketSize = 4096)
              val refill = m.agg(sum("seq_tokens")).first().getLong(0)
              println(s"docs=${p.count()} tokens=$total lastEnd=$lastEnd " +
                s"manifestRows=${m.count()} refill=$refill " +
                (if (total == lastEnd && total == refill) "OK" else "MISMATCH"))
            case "rank" =>
              // global ntile over 100k rows without a global window;
              // invariant vs the arithmetic: tile sizes differ by <= 1
              val t = ops.ScalableRank.globalNtile(
                big.select(col("doc_id"), length(col("text")).as("len")),
                100, "len", "doc_id", bucketWidth = 64)
              val sizes = t.groupBy("tile").count()
              val mm = sizes.agg(min("count"), max("count"), count(lit(1))).first()
              println(s"rows=${t.count()} tiles=${mm.getLong(2)} " +
                s"minTile=${mm.getLong(0)} maxTile=${mm.getLong(1)} " +
                (if (mm.getLong(1) - mm.getLong(0) <= 1 && mm.getLong(2) == 100)
                  "OK" else "MISMATCH"))
            case "spans" =>
              // with 20 copies of every doc, EVERY span is duplicated:
              // maximal removal, and the span->count agg + fanout-1
              // join stay linear in span instances
              val d = ops.TextAnalysis.spanDedup(big, k = 8)
              val agg = d.agg(sum("n_removed"), sum("n_tokens"),
                count(when(col("clean_text").isNull, 1))).first()
              println(s"docs=${d.count()} removed=${agg.getLong(0)}/" +
                s"${agg.getLong(1)} emptied=${agg.getLong(2)}")
            case "hh" =>
              // sketch top-k vs plain top-k over the 100k-doc token
              // stream: identical results (guaranteed path on this
              // Zipf-ish corpus), bounded candidate shuffle
              val words = big
                .select(explode(split(col("text"), " ", -1)).as("w"))
                .filter(col("w") =!= "")
                .select(lower(col("w")).as("word"))
              // plain first: the first job over the exploded stream
              // pays codegen/file-cache warmup, and the sketch should
              // not be billed for it. On THIS corpus (tiny vocab) the
              // plain groupBy is already cheap — the sketch's win
              // condition is a key space too wide to shuffle, which a
              // word-soup corpus cannot exhibit; match=true is the
              // assertion that matters here.
              val t0h = System.nanoTime()
              val plain = words.groupBy("word").count()
                .orderBy(col("count").desc, col("word")).limit(25)
                .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
              val t1h = System.nanoTime()
              val fast = ops.HeavyHitters.topK(words, "word", 25, 1024)
                .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
              val t2h = System.nanoTime()
              println(f"plain=${(t1h - t0h) / 1e9}%.1fs sketch=${(t2h - t1h) / 1e9}%.1fs " +
                s"match=${fast == plain} top=${fast.headOption}")
            case "bpe" =>
              // 10 merge rounds over the 100k-doc corpus: corpus size
              // only affects the one word-count aggregate; every round
              // runs on the (deduplicated) vocabulary table. Encode
              // then re-tokenizes the corpus via the vocab join
              val merges = ops.TextAnalysis.bpeTrain(big, merges = 10)
              val enc = ops.TextAnalysis.bpeEncode(big, merges)
              val toks = enc.agg(sum(size(col("tokens")))).first().getLong(0)
              println(s"merges=${merges.size} docs=${enc.count()} tokens=$toks " +
                s"first=${merges.headOption}")
            case "winnow" =>
              // 20 copies of every doc: each COPY GROUP shares its full
              // fingerprint set, so without the frequency cap every
              // fingerprint would key a 20-doc bucket (>= 190 pairs per
              // group); the cap at 64 keeps those (well under the cap)
              // while template fingerprints shared by hundreds of
              // distinct texts are dropped. Invariants: fingerprint
              // density ~ 2/(w+1) of grams; every 20-copy group fully
              // paired at max shared count
              val fps = ops.TextAnalysis.winnow(big, 4, 4)
              val nFps = fps.count()
              val cap = 64
              // identical texts have identical fingerprint SETS, so a
              // base doc pairs with its own +1M copy iff >= 2 of its
              // distinct fingerprints survive the frequency cap —
              // recompute the surviving set to make that invariant
              // exact (not every doc qualifies: 1-fp docs and docs
              // whose whole set is corpus-hot cannot pair)
              val dfp = fps.select(col("doc_id"), col("fp")).distinct()
              val kept = dfp.join(
                dfp.groupBy("fp").agg(count(lit(1)).as("n"))
                  .filter(col("n") <= cap).select("fp"), Seq("fp"))
              val eligible = kept.filter(col("doc_id") < 1000000L)
                .groupBy("doc_id").agg(count(lit(1)).as("nf"))
                .filter(col("nf") >= 2).count()
              val pairs = ops.Dedup.winnowPairs(big, 4, 4,
                minShared = 2, maxFpFreq = cap)
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              val nPairs = pairs.count()
              val copyPairs = pairs
                .filter(col("doc_a") < 1000000L &&
                  col("doc_b") === col("doc_a") + 1000000L).count()
              pairs.unpersist()
              println(s"fps=$nFps pairs=$nPairs " +
                s"copyPairs=$copyPairs eligible=$eligible " +
                (if (copyPairs == eligible) "OK" else "MISMATCH"))
            case "graph" =>
              // graph ops at 262k nodes with EXACT closed-form
              // invariants. (1) full binary tree (2^18 - 1 nodes):
              // BFS level d from the root holds exactly 2^d nodes;
              // PageRank mass is conserved at 1.0. (2) 50k-leaf star
              // with maxFanout 1024 (forces adjacency chunk splits):
              // every leaf lands at dist 1, the hub outranks every
              // leaf, mass still 1.0.
              val nTree = (1 << 18) - 1
              val tree = spark.range(1, nTree)
                .select(col("id").as("src"),
                  ((col("id") - 1) / 2).cast("long").as("dst"))
              val bfs = ops.Graph.bfsDistances(tree,
                spark.range(1).select(col("id").as("node")), maxDepth = 17)
              val levels = bfs.groupBy("dist").count()
                .orderBy("dist").collect()
              val levelsOk = levels.length == 18 && levels.forall(r =>
                r.getLong(1) == (1L << r.getLong(0).toInt))
              val pr = ops.Graph.pageRank(tree, iterations = 2)
              val mass = pr.agg(sum("rank")).first().getDouble(0)
              val star = spark.range(1, 50001)
                .select(col("id").as("src"), lit(0L).as("dst"))
              val sd = ops.Graph.bfsDistances(star,
                spark.range(1).select(col("id").as("node")),
                maxDepth = 3, maxFanout = 1024)
                .groupBy("dist").count().orderBy("dist").collect()
              val starOk = sd.length == 2 && sd(0).getLong(1) == 1 &&
                sd(1).getLong(1) == 50000
              val spr = ops.Graph.pageRank(star, iterations = 3,
                maxFanout = 1024)
              val hub = spr.filter(col("node") === 0).first().getDouble(1)
              val topLeaf = spr.filter(col("node") =!= 0)
                .agg(max("rank")).first().getDouble(0)
              val smass = spr.agg(sum("rank")).first().getDouble(0)
              println(f"treeLevelsOK=$levelsOk treeMass=$mass%.9f " +
                f"starLevelsOK=$starOk hubRank=$hub%.6f " +
                f"maxLeafRank=$topLeaf%.6f starMass=$smass%.9f " +
                (if (levelsOk && math.abs(mass - 1.0) < 1e-6 && starOk &&
                  hub > topLeaf && math.abs(smass - 1.0) < 1e-6)
                  "OK" else "MISMATCH"))
            case "graph2" =>
              // label propagation + k-core at 100k+ nodes with EXACT
              // closed-form invariants. (1) 1,000 disjoint 100-leaf
              // stars (101k nodes): after 2 synchronous rounds every
              // leaf carries min(leaf ids of its star) and every hub
              // carries its own id (round 1: leaf<-hub id, hub<-min
              // leaf; round 2: leaf<-that min, hub<-hub id by count-
              // majority of |leaves| identical neighbor labels).
              // (2) 20k disjoint 5-cliques (100k nodes, degree 4)
              // unioned with a 10k-leaf star (leaf degree 1, and the
              // hub's edges all vanish with the leaves): the 3-core is
              // exactly the clique nodes — peeling must remove leaves
              // in round 1, the then-isolated hub in round 2, and
              // nothing else.
              val nStars = 1000L
              val leavesPer = 100L
              // hubs: 0..999; leaves of hub h: 1000 + h*100 + j
              val starEdges = spark.range(nStars * leavesPer)
                .select((col("id") / leavesPer).cast("long").as("src"),
                  (col("id") + 1000L).as("dst"))
              val lp = ops.Graph.labelPropagation(starEdges, iterations = 2)
              val leafOk = lp.filter(col("node") >= 1000L)
                .withColumn("want", ((col("node") - 1000L) / leavesPer)
                  .cast("long") * leavesPer + 1000L)
                .filter(col("label") =!= col("want")).count()
              val hubOk = lp.filter(col("node") < 1000L)
                .filter(col("label") =!= col("node")).count()
              // cliques: node n in clique n/5; all 10 in-clique pairs
              val cliqueNodes = spark.range(100000L)
              val cliqueEdges = cliqueNodes.alias("a")
                .join(cliqueNodes.alias("b"),
                  (col("a.id") / 5).cast("long") === (col("b.id") / 5).cast("long") &&
                    col("a.id") < col("b.id"))
                .select(col("a.id").as("src"), col("b.id").as("dst"))
              val starTail = spark.range(100000L, 110000L)
                .select(col("id").as("src"), lit(200000L).as("dst"))
              val core = ops.Graph.kCore(cliqueEdges.unionByName(starTail),
                k = 3, maxRounds = 8)
              val coreN = core.count()
              val starSurvivors = core.filter(col("node") >= 100000L).count()
              println(s"lpWrongLeaves=$leafOk lpWrongHubs=$hubOk " +
                s"coreNodes=$coreN starSurvivors=$starSurvivors " +
                (if (leafOk == 0 && hubOk == 0 && coreN == 100000L &&
                  starSurvivors == 0) "OK" else "MISMATCH"))
            case "crossjac" =>
              // fuzzy decontamination at 100k corpus docs vs a 500-doc
              // held-out set (the base corpus — every duplicated copy
              // is a true match). Invariants: (1) with the cap above
              // every held-out df the guard is a no-op and the pair
              // set equals the unguarded run; (2) a tight cap still
              // finds every copy pair (copies share their doc's RARE
              // shingles) while generating boundedly fewer candidates.
              val ho = base.limit(500).localCheckpoint(true)
              val exactPairs = ops.Dedup.crossJaccard(big, ho, 3, 0.8,
                maxHeldoutDf = Int.MaxValue)
              val guardedPairs = ops.Dedup.crossJaccard(big, ho, 3, 0.8,
                maxHeldoutDf = 25)
              val nExact = exactPairs.count()
              val nGuarded = guardedPairs.count()
              val diff = exactPairs.select("doc_a", "doc_b")
                .exceptAll(guardedPairs.select("doc_a", "doc_b")).count()
              // every held-out doc must rediscover its 20 id-shifted
              // copies at j >= 0.8 (identical text -> jaccard 1.0; the
              // i=0 copy keeps the original id, so 20 pairs per doc)
              val copies = guardedPairs
                .filter(col("doc_a") % 1000000L === col("doc_b"))
                .count()
              println(s"exact=$nExact guarded=$nGuarded lost=$diff " +
                s"copyPairs=$copies expectCopies=${500 * 20} " +
                (if (diff == 0 && nExact == nGuarded && copies == 500L * 20)
                  "OK" else "MISMATCH"))
            case "substr" =>
              // trigram substring index over the 20x corpus (100k
              // docs): postings build + two probes. EXACT invariant:
              // every duplicated copy matches, so probe hits must be
              // exactly 20x the base corpus's brute-force count, and
              // the probe must equal ITS brute force on the big corpus
              val postings = search.SubstringIndex.trigramPostings(big)
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              val nPostings = postings.count()
              val needle = "merge batch"
              val hits = search.SubstringIndex.search(big, postings, needle).count()
              val baseBrute = base.filter(
                contains(lower(col("text")), lit(needle))).count()
              val bigBrute = big.filter(
                contains(lower(col("text")), lit(needle))).count()
              val likeHits = search.SubstringIndex.searchLike(
                big, postings, "%merge batch%fast%").count()
              val likeBrute = big.filter(
                lower(col("text")).like("%merge batch%fast%")).count()
              postings.unpersist()
              println(s"postings=$nPostings hits=$hits expect=${20 * baseBrute} " +
                s"likeHits=$likeHits " +
                (if (hits == 20 * baseBrute && hits == bigBrute &&
                  likeHits == likeBrute) "OK" else "MISMATCH"))
            case "shuffle" =>
              // deterministic global order over 100k rows without a
              // single-partition sort; invariant: positions are exactly
              // the permutation 1..n
              val s = ops.ScalableRank.deterministicShuffle(
                big.select(col("doc_id")), "doc_id", seed = 7)
              val agg = s.agg(count(lit(1)), min("shuffle_pos"),
                max("shuffle_pos"),
                countDistinct("shuffle_pos")).first()
              val ok = agg.getLong(1) == 1L &&
                agg.getLong(2) == agg.getLong(0) &&
                agg.getLong(3) == agg.getLong(0)
              println(s"rows=${agg.getLong(0)} minPos=${agg.getLong(1)} " +
                s"maxPos=${agg.getLong(2)} distinct=${agg.getLong(3)} " +
                (if (ok) "OK" else "MISMATCH"))
            case "scd2" =>
              // SCD-2 apply at a 20x change volume: a history over the
              // full duplicated corpus (one current row per key, plus a
              // closed version for 5% of keys) takes ONE batch touching
              // EVERY key — half changed, a quarter value-identical
              // no-ops, a quarter brand-new keys. Invariants: exact
              // output-size identity (+1 row per changed key, +1 per
              // new key), exactly one current row per key, zero
              // crossed or overlapping intervals anywhere, and the
              // ordering audit passes in-order but rejects a stale
              // batch instead of writing inverted intervals.
              def dt(x: String) = to_date(lit(x))
              val history = big.select(col("doc_id").as("k"),
                  md5(col("text")).as("v"), dt("2024-01-01").as("valid_from"),
                  lit(null).cast("date").as("valid_to"))
                .unionByName(big.filter(col("doc_id") % 20 === 7)
                  .select(col("doc_id").as("k"), lit("old").as("v"),
                    dt("2023-01-01").as("valid_from"),
                    dt("2024-01-01").as("valid_to")))
                .localCheckpoint(true)
              val changed = big.filter(col("doc_id") % 4 < 2)
                .select(col("doc_id").as("k"), md5(reverse(col("text"))).as("v"))
              val fresh = big.filter(col("doc_id") % 4 === 3)
                .select((col("doc_id") + 20000000L).as("k"), lit("new").as("v"))
              val changes = changed
                .unionByName(big.filter(col("doc_id") % 4 === 2)
                  .select(col("doc_id").as("k"), md5(col("text")).as("v")))
                .unionByName(fresh)
                .withColumn("ts", dt("2024-06-01")).localCheckpoint(true)
              val nHist = history.count()
              val tApply = System.nanoTime()
              val out = ops.Maintenance.scd2Apply(history, changes, Seq("k"),
                failOnOutOfOrder = true).localCheckpoint(true)
              val nOut = out.count()
              val applySec = (System.nanoTime() - tApply) / 1e9
              val sizeOk = nOut == nHist + changed.count() + fresh.count()
              val cur = out.filter(col("valid_to").isNull).localCheckpoint(true)
              val oneCur = cur.groupBy("k").count()
                .filter(col("count") =!= 1).count() == 0
              val crossed = out.filter(col("valid_to").isNotNull &&
                col("valid_to") <= col("valid_from")).count()
              val overlap = out.filter(col("valid_to").isNotNull)
                .join(cur.select(col("k"), col("valid_from").as("cur_from")), "k")
                .filter(col("valid_to") > col("cur_from")).count()
              val rejected =
                try {
                  ops.Maintenance.scd2Apply(history,
                    changes.withColumn("ts", dt("2020-01-01")), Seq("k"),
                    failOnOutOfOrder = true).count()
                  false
                } catch { case _: IllegalArgumentException => true }
              println(f"hist=$nHist out=$nOut applySec=$applySec%.2f " +
                s"sizeOk=$sizeOk oneCurrent=$oneCur crossed=$crossed " +
                s"overlap=$overlap staleRejected=$rejected " +
                (if (sizeOk && oneCur && crossed == 0 && overlap == 0 &&
                  rejected) "OK" else "MISMATCH"))
            case "statemerge" =>
              // mergeable aggregation states at 20x rows: for BOTH
              // mergeCountSum and the width-carrying histogram state,
              // merge(state(A), state(B)) over a disjoint split must
              // EXACTLY equal state(A ∪ B) — multiset equality of the
              // state tables, plus equal quantile reads. Sums are
              // integer-valued doubles, so the equality is exact, not
              // approximate.
              val vals = big.select(col("doc_id"),
                  (col("doc_id") % 1000).as("g"),
                  length(col("text")).cast("double").as("x"))
                .localCheckpoint(true)
              val a = vals.filter(col("doc_id") % 2 === 0)
              val b = vals.filter(col("doc_id") % 2 =!= 0)
              def countSum(df: org.apache.spark.sql.DataFrame) =
                df.groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("total"))
              val tCs = System.nanoTime()
              val mergedCs = ops.Maintenance.mergeCountSum(
                countSum(a), countSum(b), Seq("g")).localCheckpoint(true)
              val csSec = (System.nanoTime() - tCs) / 1e9
              val fullCs = countSum(vals)
              val csDiff = mergedCs.exceptAll(fullCs).count() +
                fullCs.exceptAll(mergedCs).count()
              val tH = System.nanoTime()
              val mergedH = ops.Maintenance.mergeHistograms(
                ops.Maintenance.histogramState(a, "x", 5.0),
                ops.Maintenance.histogramState(b, "x", 5.0))
              val fullH = ops.Maintenance.histogramState(vals, "x", 5.0)
              val hDiff = mergedH.buckets.exceptAll(fullH.buckets).count() +
                fullH.buckets.exceptAll(mergedH.buckets).count()
              val hSec = (System.nanoTime() - tH) / 1e9
              val qm = ops.Maintenance.histogramQuantiles(mergedH,
                Seq(0.25, 0.5, 0.75)).collect().map(_.getDouble(1)).toSeq
              val qf = ops.Maintenance.histogramQuantiles(fullH,
                Seq(0.25, 0.5, 0.75)).collect().map(_.getDouble(1)).toSeq
              println(f"rows=${vals.count()} groups=${fullCs.count()} " +
                f"csSec=$csSec%.2f hSec=$hSec%.2f csDiff=$csDiff " +
                s"histDiff=$hDiff quantiles=$qm " +
                (if (csDiff == 0 && hDiff == 0 && qm == qf) "OK"
                else "MISMATCH"))
            case "mgmerge" =>
              // mergeable Misra-Gries top-k at 20x: a wide key space
              // (word 3-gram shingles of the 20x corpus), states built
              // on a disjoint split, merged, read — the EXACT top-25
              // must equal the plain aggregation, and the merged state
              // must respect the capacity bound. Invariants, not just
              // wall-time.
              val keys = ops.Dedup.shingles(big, 3)
                .select(col("doc_id"), col("shingle").as("word"))
                .localCheckpoint(true)
              val cap = 4096
              val t0m = System.nanoTime()
              val merged = ops.HeavyHitters.mergeMg(
                ops.HeavyHitters.mgState(keys.filter(col("doc_id") % 2 === 0), "word", cap),
                ops.HeavyHitters.mgState(keys.filter(col("doc_id") % 2 =!= 0), "word", cap),
                cap).localCheckpoint(true)
              val stateSec = (System.nanoTime() - t0m) / 1e9
              val nCounters = merged.filter(col("key").isNotNull).count()
              val t1m = System.nanoTime()
              val got = ops.HeavyHitters.topKFromState(merged, keys, "word", 25, cap)
                .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
              val readSec = (System.nanoTime() - t1m) / 1e9
              val want = keys.groupBy("word").agg(count(lit(1)).as("n"))
                .orderBy(col("n").desc, col("word")).limit(25)
                .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
              println(f"rows=${keys.count()} counters=$nCounters " +
                f"stateSec=$stateSec%.2f readSec=$readSec%.2f " +
                (if (got == want && nCounters <= cap) "OK" else "MISMATCH"))
            case "power" =>
              // bit-portable power iteration at 20x embeddings: the
              // backScale=1e4 long-headroom argument must hold (no
              // overflow guard trip) and the result must stay
              // bit-identical across partitionings at this scale
              val base20 = (0 until 20).map(i =>
                  sources.Tables(spark, sfDir, "embeddings")
                    .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
                .reduce(_ unionByName _).localCheckpoint(true)
              val t0p = System.nanoTime()
              val va = ops.Similarity.powerIteration(base20.repartition(7), 3)
                .orderBy("dim").collect().map(_.getDouble(1)).toSeq
              val sec = (System.nanoTime() - t0p) / 1e9
              val vb = ops.Similarity.powerIteration(base20.repartition(64), 3)
                .orderBy("dim").collect().map(_.getDouble(1)).toSeq
              val nrm = math.sqrt(va.map(x => x * x).sum)
              println(f"rows=${base20.count()} sec=$sec%.2f norm=$nrm%.9f " +
                (if (va == vb && math.abs(nrm - 1.0) < 1e-9) "OK" else "MISMATCH"))
            case "mleval" =>
              // retrieval eval at 20x embeddings: every metric is exact
              // integer/single-division arithmetic, so the full 8-query
              // report must be IDENTICAL (==, doubles included) across
              // partitionings — partial-agg order cannot change a bit
              val base20 = (0 until 20).map(i =>
                  sources.Tables(spark, sfDir, "embeddings")
                    .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
                .reduce(_ unionByName _).localCheckpoint(true)
              val queries = base20.filter(col("vec_id") < 8)
              def evalRows(parts: Int): Seq[Seq[Any]] =
                ops.Similarity.retrievalEval(base20.repartition(parts), queries, 10)
                  .orderBy("q_id").collect().map(_.toSeq.toList).toSeq
              val t0e = System.nanoTime()
              val ra = evalRows(7)
              val sec2 = (System.nanoTime() - t0e) / 1e9
              val rb = evalRows(64)
              println(f"rows=${base20.count()} queries=${ra.length} sec=$sec2%.2f " +
                (if (ra == rb && ra.length == 8) "OK" else "MISMATCH"))
            case "mmr" =>
              // MMR re-rank at 20x: the corpus-sized stage is the one
              // top-pool cosine cut; with all cosines rounded to 4 dp
              // and vec_id tie-breaks, the greedy SELECTION ORDER must
              // be stable across partitionings (the 20 identical copies
              // of every vector are the worst tie storm possible)
              val base20 = (0 until 20).map(i =>
                  sources.Tables(spark, sfDir, "embeddings")
                    .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
                .reduce(_ unionByName _).localCheckpoint(true)
              val qv = sources.Tables(spark, sfDir, "embeddings")
                .filter(col("vec_id") === 0).select("embedding")
                .collect()(0).getSeq[Float](0).map(_.toDouble)
              def picks(parts: Int): Seq[(Int, Long, Double)] =
                ops.Similarity.mmrRerank(
                    base20.filter(col("vec_id") % 1000000L =!= 0L).repartition(parts),
                    qv, poolSize = 50, k = 5)
                  .orderBy("mmr_rank").collect()
                  .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
              val t0r = System.nanoTime()
              val pa = picks(7)
              val sec3 = (System.nanoTime() - t0r) / 1e9
              val pb = picks(64)
              println(f"rows=${base20.count()} sec=$sec3%.2f picks=$pa " +
                (if (pa == pb && pa.length == 5) "OK" else "MISMATCH"))
            case "semdedup" =>
              // cluster-partitioned SemDeDup at 20x embeddings: k=64
              // bounds the within-cluster pair join at ~sum(625^2);
              // the 20 identical copies of every vector are the
              // densest possible near-dup mass. Invariants: identical
              // output across partitionings (exact Lloyd + 4-dp grid),
              // and every copy group fully pruned down to its min id
              // (copies are bitwise equal, so they always share the
              // argmax cluster — within-cluster search cannot miss
              // them)
              val base20 = (0 until 20).map(i =>
                  sources.Tables(spark, sfDir, "embeddings")
                    .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
                .reduce(_ unionByName _).localCheckpoint(true)
              val nBase = base20.filter(col("vec_id") < 1000000L).count()
              def prune(parts: Int) =
                ops.Similarity.semDedup(base20.repartition(parts), k = 64,
                  rounds = 1, minCos = 0.9999)
              val t0s = System.nanoTime()
              val pa = prune(7).localCheckpoint(true)
              val secS = (System.nanoTime() - t0s) / 1e9
              val nPruned = pa.count()
              // every one of the 19*nBase non-original copies must be
              // pruned (a copy always has its smaller-id original in
              // its own cluster at cos 1.0; a distinct base pair may
              // also clear the threshold, so >= not ==)
              val copiesPruned = pa.filter(col("vec_id") >= 1000000L).count()
              val pb = prune(64)
              val d = pa.exceptAll(pb).count() + pb.exceptAll(pa).count()
              println(f"rows=${base20.count()} pruned=$nPruned " +
                f"copiesPruned=$copiesPruned/${19 * nBase} sec=$secS%.2f " +
                (if (copiesPruned == 19 * nBase && nPruned >= copiesPruned
                     && d == 0) "OK"
                 else s"MISMATCH diff=$d"))
            case "logreg" =>
              // logreg training at 20x docs: the per-round gradient is a
              // sum of floor-scaled integers, so the trained WEIGHTS
              // must be bit-identical (==) across partitionings; the
              // calibration report over the same model must agree too
              val label = pmod(col("doc_id"), lit(2)).cast("double")
              def weights(parts: Int): Seq[Double] =
                ops.TextAnalysis.trainLogRegWeights(
                  big.repartition(parts), label, iterations = 3).toSeq
              val t0l = System.nanoTime()
              val wa = weights(7)
              val sec4 = (System.nanoTime() - t0l) / 1e9
              val wb = weights(64)
              def calib(parts: Int): Seq[Seq[Any]] =
                ops.TextAnalysis.calibrationReport(
                    big.repartition(parts), label, iterations = 3)
                  .orderBy("bucket").collect().map(_.toSeq.toList).toSeq
              val ca = calib(7); val cb = calib(64)
              println(f"rows=${big.count()} sec=$sec4%.2f w=$wa " +
                s"calibBuckets=${ca.length} " +
                (if (wa == wb && ca == cb) "OK" else "MISMATCH"))
            case "semdedupguard" =>
              // SemDeDup's quadratic knife-edge must fail LOUDLY: a
              // degenerate corpus where every vector is identical
              // collapses all 20x rows into the first seed's cluster
              // (cosine 1.0 to every centroid, tie to the smallest
              // cid), and the within-cluster pair join would be
              // |corpus|^2 — the guard require must fire with the
              // remedy in the message, never start the join
              val one = sources.Tables(spark, sfDir, "embeddings")
                .filter(col("vec_id") === 0).select("embedding")
                .collect()(0).getSeq[Float](0)
              val degenerate = (0 until 20).map(i =>
                  sources.Tables(spark, sfDir, "embeddings")
                    .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
                .reduce(_ unionByName _)
                .withColumn("embedding",
                  array(one.map(lit): _*).cast("array<float>"))
                .localCheckpoint(true)
              val nRows = degenerate.count()
              val verdict = try {
                ops.Similarity.semDedup(degenerate, k = 64, rounds = 1,
                  minCos = 0.9999, maxClusterSize = 10000L).count()
                s"MISSED-GUARD (pair join ran over a $nRows-member cluster)"
              } catch {
                case e: IllegalArgumentException
                    if e.getMessage.contains("largest cluster") &&
                      e.getMessage.contains("raise k") =>
                  s"OK guard fired at rows=$nRows: '${e.getMessage.take(70)}...'"
              }
              println(verdict)
            case "ivfassign" =>
              // IVF maintenance assignment at 20x: batch routing
              // against FIXED trained centroids is a broadcast argmax
              // on the 4-dp cosine grid — the assignment must be
              // IDENTICAL across partitionings, and every bitwise copy
              // must land in its original's cluster
              val e0 = sources.Tables(spark, sfDir, "embeddings")
              val (_, cents) = ops.Similarity.kMeansExactModel(
                e0.filter(col("vec_id") % 5 =!= 0), k = 8, rounds = 1)
              import spark.implicits._
              val centsDf = cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
                .toDF("cluster", "centroid")
              val batch20 = (0 until 20).map(i =>
                  e0.filter(col("vec_id") % 5 === 0)
                    .withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
                .reduce(_ unionByName _).localCheckpoint(true)
              def assign(parts: Int): Map[Long, Long] =
                ops.Similarity.assignToCentroids(
                    batch20.repartition(parts), centsDf)
                  .select("vec_id", "cluster").collect()
                  .map(r => (r.getLong(0), r.getLong(1))).toMap
              val t0a = System.nanoTime()
              val aa = assign(7)
              val secA = (System.nanoTime() - t0a) / 1e9
              val ab = assign(64)
              val copyStable = aa.forall { case (id, c) =>
                aa(id % 1000000L) == c }
              println(f"rows=${batch20.count()} sec=$secA%.2f " +
                (if (aa == ab && copyStable && aa.nonEmpty) "OK"
                 else "MISMATCH"))
            case "ingest" =>
              // many-file binaryFile ingest: 3000 tiny files (PNG/WAV/
              // opaque round-robin) through ingestBinaryFiles — one row
              // per file, kinds from magic bytes, path-hash ids
              // distinct; small files batch per task via
              // files.maxPartitionBytes, no driver-side content reads
              val dir = java.nio.file.Files
                .createTempDirectory("graft-ingest-stress-")
              val png = Array[Byte](0x89.toByte, 'P', 'N', 'G',
                13, 10, 26, 10) ++ Array.fill[Byte](24)(0)
              val wav = "RIFF".getBytes("US-ASCII") ++
                Array[Byte](36, 0, 0, 0) ++
                "WAVE".getBytes("US-ASCII") ++ Array.fill[Byte](20)(0)
              val txt = "plain text payload, not a container"
                .getBytes("UTF-8")
              val nFiles = 3000
              (0 until nFiles).foreach { i =>
                val payload = (i % 3) match {
                  case 0 => png; case 1 => wav; case _ => txt }
                java.nio.file.Files.write(
                  dir.resolve(f"f$i%05d.bin"), payload)
              }
              val t0i = System.nanoTime()
              val rec = ops.Multimodal
                .ingestBinaryFiles(spark, dir.toString + "/*.bin")
              val kinds = rec.groupBy("kind").count().collect()
                .map(r => (r.getString(0), r.getLong(1))).toMap
              val nIds = rec.select("media_id").distinct().count()
              val secI = (System.nanoTime() - t0i) / 1e9
              println(f"files=$nFiles sec=$secI%.2f kinds=$kinds " +
                (if (kinds == Map("image" -> 1000L, "audio" -> 1000L,
                       "binary" -> 1000L) && nIds == nFiles) "OK"
                 else "MISMATCH"))
            case "minhashappend" =>
              // at-rest MinHash lifecycle at 20x: base = copies 0..15
              // (80k docs), batch = copies 16..19 (pure bitwise
              // copies — every set already in the dict, so routing
              // must ADOPT all of them and mint zero new digests) plus
              // planted near-dup edits (3 appended tokens) that MUST
              // become gen=1 reps and pair with their originals. The
              // whole append+serve is re-run from a copied base index
              // under repartition(7) vs (64) — output must be
              // identical (exceptAll 0/0 both ways)
              val base16 = (0 until 16).map(i => base.withColumn("doc_id",
                  col("doc_id") + lit(i * 1000000L))).reduce(_ unionByName _)
              val copies = (16 until 20).map(i => base.withColumn("doc_id",
                  col("doc_id") + lit(i * 1000000L))).reduce(_ unionByName _)
              // the appended third token carries the doc_id so two
              // edits of EXACT-DUPLICATE originals still form distinct
              // new sets (the corpus plants exact dups)
              val edited = base.filter(col("doc_id") % 100 === 1)
                .withColumn("doc_id", col("doc_id") + lit(20000000L))
                .withColumn("text",
                  concat(col("text"), lit(" zzalpha zzbeta zz"),
                    col("doc_id").cast("string")))
              val batchMh = copies.unionByName(edited).localCheckpoint(true)
              val nBatch = batchMh.count()
              val nEdited = edited.count()
              val rootMh = java.nio.file.Files
                .createTempDirectory("graft-mhapp-")
              val basePath = s"$rootMh/base"
              val t0m = System.nanoTime()
              ops.Dedup.minhashIndexWrite(base16, basePath, 3, 32, 32,
                0.2, 16, 2)
              val secBuild = (System.nanoTime() - t0m) / 1e9
              def copyTree(from: String, to: String): Unit = {
                val src = java.nio.file.Paths.get(from)
                java.nio.file.Files.walk(src).forEach { f =>
                  val dst = java.nio.file.Paths.get(to)
                    .resolve(src.relativize(f))
                  if (java.nio.file.Files.isDirectory(f))
                    java.nio.file.Files.createDirectories(dst)
                  else java.nio.file.Files.copy(f, dst)
                }
              }
              def appendServe(parts: Int): (String, Long, Long) = {
                val p = s"$rootMh/idx$parts"
                copyTree(basePath, p)
                ops.Dedup.minhashIndexAppend(spark, p,
                  batchMh.repartition(parts), base16.unionByName(batchMh),
                  3, 32, 32, 0.2, 16, 2)
                val newDigests = spark.read.parquet(s"$p/dict")
                  .filter(col("gen") === 1).count()
                val adoptedRows = spark.read.parquet(s"$p/membership")
                  .filter(col("gen") === 1).count()
                (p, newDigests, adoptedRows)
              }
              val t1m = System.nanoTime()
              val (pa, newA, memA) = appendServe(7)
              val secApp = (System.nanoTime() - t1m) / 1e9
              val (pb, newB, memB) = appendServe(64)
              val servedA = ops.Dedup.minhashServePairs(spark, pa)
              val servedB = ops.Dedup.minhashServePairs(spark, pb)
              val onlyA = servedA.exceptAll(servedB).count()
              val onlyB = servedB.exceptAll(servedA).count()
              // every planted edit must pair with its original at the
              // appended-tokens jaccard (high), through gen=1 reps
              val editPairs = servedA
                .filter(col("doc_b") >= 20000000L && col("doc_a") < 16000000L)
                .select((col("doc_b") - 20000000L).as("orig"), col("doc_a"))
                .filter(col("orig") === col("doc_a") % 1000000L)
                .select("orig").distinct().count()
              println(f"build=$secBuild%.1fs append=$secApp%.1fs " +
                f"batch=$nBatch newDigests=$newA adopted=$memA " +
                f"editPairs=$editPairs/$nEdited " +
                (if (newA == nEdited && newB == nEdited && memA == nBatch &&
                     memB == memA && onlyA == 0 && onlyB == 0 &&
                     editPairs == nEdited) "OK" else "MISMATCH"))
            case "targeteddelete" =>
              // copy-on-write delete at 20x: 100k rows over 40 range
              // files; five keys scattered across the id range must
              // rewrite at most five files, every other file must stay
              // byte-identical (same name + same bytes)
              val p = java.nio.file.Files
                .createTempDirectory("graft-delstress-").toString + "/t"
              big.select("doc_id", "lang", "n_chars")
                .repartitionByRange(40, col("doc_id"))
                .sortWithinPartitions("doc_id")
                .write.parquet(p)
              def sums(dir: String): Map[String, Long] = {
                import scala.jdk.CollectionConverters._
                java.nio.file.Files.list(java.nio.file.Paths.get(dir))
                  .iterator().asScala
                  .filter(_.getFileName.toString.endsWith(".parquet"))
                  .map(f => f.getFileName.toString ->
                    java.util.Arrays.hashCode(
                      java.nio.file.Files.readAllBytes(f)).toLong)
                  .toMap
              }
              val before = sums(p)
              val keys = Seq(5L, 1000003L, 7000042L, 15000099L, 19000001L)
              val t0d = System.nanoTime()
              val res = ops.Maintenance.deleteWhere(spark, p, "doc_id", keys)
              val secD = (System.nanoTime() - t0d) / 1e9
              val after = sums(p)
              val untouched = before.keySet.intersect(after.keySet)
              val identical = untouched.forall(f => before(f) == after(f))
              val nLeft = spark.read.parquet(p).count()
              println(f"files=${before.size} rewritten=${res.filesRewritten} " +
                f"deleted=${res.rowsDeleted} sec=$secD%.2f " +
                (if (res.rowsDeleted == keys.size &&
                     res.filesRewritten <= keys.size &&
                     untouched.size == before.size - res.filesRewritten &&
                     identical && nLeft == 100000L - keys.size) "OK"
                 else "MISMATCH"))
            case "txlog" =>
              // transaction-log table at 20x: 20 append commits
              // (100k rows), a logged delete, a compaction — then time
              // travel to the middle, the head count, and log-based
              // CDC over the delete+compact interval (exactly the five
              // deleted rows, compaction cancelled out)
              val rootT = java.nio.file.Files
                .createTempDirectory("graft-txstress-").toString + "/t"
              ops.TxLog.init(rootT)
              val t0t = System.nanoTime()
              (0 until 20).foreach { i =>
                ops.TxLog.append(spark, rootT, base
                  .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
                  .select("doc_id", "lang", "n_chars"))
              }
              val keysT = Seq(5L, 1000003L, 7000042L, 15000099L, 19000001L)
              ops.TxLog.deleteWhere(spark, rootT, "doc_id", keysT)
              ops.TxLog.compact(spark, rootT, 64L << 20)
              val secT = (System.nanoTime() - t0t) / 1e9
              val headT = ops.TxLog.resolve(rootT)
              val nHead = ops.TxLog.snapshot(spark, rootT).count()
              val nV9 = ops.TxLog.snapshot(spark, rootT, Some(9L)).count()
              val cdc = ops.TxLog.changesBetween(spark, rootT, 19L, 21L)
              val nDelT = cdc.filter(col("change") === "delete").count()
              val nInsT = cdc.filter(col("change") === "insert").count()
              println(f"versions=${headT.version + 1} sec=$secT%.1f " +
                f"head=$nHead v9=$nV9 cdc=$nInsT/$nDelT " +
                (if (headT.version == 21L && nHead == 100000L - 5 &&
                     nV9 == 50000L && nDelT == 5 && nInsT == 0) "OK"
                 else "MISMATCH"))
            case "tableskip" =>
              // log-stats data skipping at 20x: one commit lands the
              // 100k-row corpus as 100 key-range-clustered files with
              // per-file [min,max] in the log; a narrow slice must
              // open only the overlapping file(s), and a clustered
              // delete's discovery must rewrite exactly one file
              val rootK = java.nio.file.Files
                .createTempDirectory("graft-skipstress-").toString + "/t"
              ops.TxLog.init(rootK)
              val t0k = System.nanoTime()
              ops.TxLog.append(spark, rootK, big
                .select("doc_id", "lang", "n_chars")
                .repartitionByRange(100, col("doc_id"))
                .sortWithinPartitions("doc_id"))
              val nFiles = ops.TxLog.resolve(rootK).files.size
              val statsK = ops.TxLog.fileStats(rootK)
              val slice = ops.TxLog.snapshotSlice(spark, rootK,
                "doc_id", 5000100L, 5000200L)
              val nOpened = slice.inputFiles.length
              val nSlice = slice.count()
              val want = big.filter(col("doc_id") >= 5000100L &&
                col("doc_id") <= 5000200L).count()
              // clustered delete: keys inside ONE file's range
              val v = ops.TxLog.deleteWhere(spark, rootK,
                "doc_id", Seq(5000100L, 5000101L, 5000102L))
              val ci = ops.TxLog.commitInfoAt(rootK, v)
              val secK = (System.nanoTime() - t0k) / 1e9
              println(f"sec=$secK%.1f files=$nFiles stats=${statsK.size} " +
                f"sliceFiles=$nOpened slice=$nSlice/$want " +
                f"deleteRewrote=${ci.removes.size} " +
                (if (nFiles == 100 && statsK.size == 100 && nOpened <= 2 &&
                     nSlice == want && nSlice > 0 &&
                     ci.removes.size == 1) "OK" else "MISMATCH"))
            case "tablepart" =>
              // partition pruning at 20x: the 2M-row corpus hive-
              // partitioned by lang (5 partitions x up to 8 files per
              // append); a one-partition read lists and opens only
              // that partition's files — decided from the LOG before
              // any listing — and the graft-table connector prunes
              // the same way from an ordinary equality filter, with
              // the numFiles metric as the proof
              val rootP = java.nio.file.Files
                .createTempDirectory("graft-partstress-").toString + "/t"
              ops.TxLog.init(rootP)
              val t0p = System.nanoTime()
              ops.TxLog.appendPartitioned(spark, rootP, big
                .select("doc_id", "lang", "n_chars")
                .repartition(8, col("doc_id")), Seq("lang"))
              val partsP = ops.TxLog.filePartitions(rootP)
              val liveP = ops.TxLog.resolve(rootP).files
              val enFiles = liveP.count(f =>
                partsP.get(f).exists(_.get("lang").contains("en")))
              val sliceP = ops.TxLog.snapshotPartition(spark, rootP,
                Map("lang" -> "en"))
              val nOpenedP = sliceP.inputFiles.length
              val nP = sliceP.count()
              val wantP = big.filter(col("lang") === "en").count()
              val conn = spark.read.format("graft-table").load(rootP)
                .filter(col("lang") === "en")
              conn.collect()
              def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
                  : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
                p match {
                  case a: org.apache.spark.sql.execution.adaptive
                      .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
                  case s: org.apache.spark.sql.execution
                      .FileSourceScanExec => Seq(s)
                  case other => other.children.flatMap(scansOf)
                }
              val connFiles = scansOf(conn.queryExecution.executedPlan)
                .map(_.metrics("numFiles").value).sum
              val secP = (System.nanoTime() - t0p) / 1e9
              println(f"sec=$secP%.1f live=${liveP.size} enFiles=$enFiles " +
                f"sliceFiles=$nOpenedP slice=$nP/$wantP " +
                f"connFiles=$connFiles " +
                (if (nOpenedP == enFiles && nP == wantP && nP > 0 &&
                     connFiles == enFiles.toLong &&
                     enFiles < liveP.size) "OK" else "MISMATCH"))
            case "sqlupdate" =>
              // SQL UPDATE at 20x: 100k rows as 100 key-clustered
              // files, 1000 keys scattered across the WHOLE range
              // updated through the row-level DSv2 machinery — ONE
              // merge-on-read commit that rewrites ZERO live files
              // (every seed file still live), stages a KB-scale
              // sidecar + small new-image files, and reads back exact
              spark.conf.set("spark.sql.catalog.graft_table",
                "graft.sources.GraftCatalog")
              val upKeys = (0 until 20).flatMap(i =>
                (0 until 50).map(j => i * 1000000L + j * 100L))
              val rootUp = java.nio.file.Files
                .createTempDirectory("graft-sqlupd-").toString
              ops.TxLog.init(rootUp)
              ops.TxLog.append(spark, rootUp, big
                .select("doc_id", "lang", "n_chars")
                .repartitionByRange(100, col("doc_id"))
                .sortWithinPartitions("doc_id"))
              val seed = ops.TxLog.resolve(rootUp).files.toSet
              val wantUp = big.filter(col("doc_id").isin(upKeys: _*))
                .count()
              locally {
                import spark.implicits._
                upKeys.toDF("k")
                  .createOrReplaceTempView("stress_upd_keys")
              }
              val t0up = System.nanoTime()
              spark.sql(s"UPDATE graft_table.`$rootUp` " +
                "SET lang = 'up' WHERE doc_id IN " +
                "(SELECT k FROM stress_upd_keys)")
              val secUp = (System.nanoTime() - t0up) / 1e9
              val snapUp = ops.TxLog.resolve(rootUp)
              val rewrote = (seed -- snapUp.files.toSet).size
              val sidecarBytes = snapUp.dvFiles
                .map(f => java.nio.file.Files.size(
                  java.nio.file.Paths.get(rootUp, f))).sum
              val upd = spark.read.format("graft-table").load(rootUp)
                .filter(col("lang") === "up").count()
              val totUp = spark.read.format("graft-table").load(rootUp)
                .count()
              println(f"sec=$secUp%.1f updated=$upd/$wantUp " +
                f"total=$totUp/${big.count()} rewroteLiveFiles=$rewrote " +
                f"sidecarBytes=$sidecarBytes " +
                f"newFiles=${(snapUp.files.toSet -- seed).size} " +
                (if (rewrote == 0 && upd == wantUp &&
                     totUp == big.count() && sidecarBytes < 200000)
                   "OK" else "MISMATCH"))
            case "tabledv" =>
              // merge-on-read delete at 20x: 100k rows as 100
              // key-clustered files, then 1000 keys scattered across
              // the WHOLE range deleted two ways — the deletion-vector
              // commit must rewrite ZERO data files and stage only a
              // KB-scale sidecar, while the copy-on-write delete of
              // the same keys rewrites (nearly) every file it hits.
              // Reads after the dv must be exact
              val keysDv = (0 until 20).flatMap(i =>
                (0 until 50).map(j => i * 1000000L + j * 100L))
              val rootDv = java.nio.file.Files
                .createTempDirectory("graft-dvstress-").toString
              val mkTable = { (p: String) =>
                ops.TxLog.init(p)
                ops.TxLog.append(spark, p, big
                  .select("doc_id", "lang", "n_chars")
                  .repartitionByRange(100, col("doc_id"))
                  .sortWithinPartitions("doc_id"))
              }
              val t0dv = System.nanoTime()
              val tDv = s"$rootDv/dv"; mkTable(tDv)
              val filesBefore = ops.TxLog.resolve(tDv).files.toSet
              val want = big.filter(col("doc_id").isin(keysDv: _*)).count()
              val vDv = ops.TxLog.deleteWhereDv(spark, tDv,
                "doc_id", keysDv)
              val ciDv = ops.TxLog.commitInfoAt(tDv, vDv)
              val snapDv = ops.TxLog.resolve(tDv)
              val dvBytes = snapDv.dvFiles
                .map(f => java.nio.file.Files.size(
                  java.nio.file.Paths.get(tDv, f))).sum
              val nAfter = ops.TxLog.snapshot(spark, tDv).count()
              val total = big.count()
              val secDv0 = (System.nanoTime() - t0dv) / 1e9
              // same delete copy-on-write, for the physical contrast
              val tCow = s"$rootDv/cow"; mkTable(tCow)
              val t0cow = System.nanoTime()
              val vCow = ops.TxLog.deleteWhere(spark, tCow,
                "doc_id", keysDv)
              val ciCow = ops.TxLog.commitInfoAt(tCow, vCow)
              val cowBytes = ciCow.adds
                .map(f => java.nio.file.Files.size(
                  java.nio.file.Paths.get(tCow, f))).sum
              val secCow = (System.nanoTime() - t0cow) / 1e9
              // restore leg: undo the copy-on-write delete by pure
              // metadata — zero data files written, the full corpus
              // back, sub-commit wall time at 100 files
              val cowV0 = ops.TxLog.resolve(tCow, Some(0L)).files.toSet
              val cowHead = ops.TxLog.resolve(tCow).files.toSet
              val t0res = System.nanoTime()
              val vRes = ops.TxLog.restore(spark, tCow, 0L)
              val secRes = (System.nanoTime() - t0res) / 1e9
              val ciRes = ops.TxLog.commitInfoAt(tCow, vRes)
              val nRestored = ops.TxLog.snapshot(spark, tCow).count()
              println(f"sec=$secDv0%.1f cowSec=$secCow%.1f " +
                f"restoreSec=$secRes%.1f " +
                f"deleted=$want dvRewrote=${ciDv.adds.size}/" +
                f"${ciDv.removes.size} dvBytes=$dvBytes " +
                f"cowRewrote=${ciCow.removes.size} cowBytes=$cowBytes " +
                f"restored=$nRestored/$total " +
                f"rows=$nAfter/${total - want} " +
                (if (ciDv.adds.isEmpty && ciDv.removes.isEmpty &&
                     ops.TxLog.resolve(tDv).files.toSet == filesBefore &&
                     ciDv.rowsRemoved.contains(want) &&
                     nAfter == total - want && want >= 900 &&
                     dvBytes < 64 * 1024 &&
                     ciCow.removes.size >= 50 &&
                     cowBytes > 100L * dvBytes &&
                     ciRes.adds.toSet == cowV0 -- cowHead &&
                     ciRes.removes.toSet == cowHead -- cowV0 &&
                     nRestored == total) "OK" else "MISMATCH"))
            case "tableclone" =>
              // shallow clone at 20x: branching the 100-file / 100k-row
              // table must copy ZERO bytes (the clone's data dir stays
              // empty) and take O(metadata) wall time; a clustered
              // delete on the branch rewrites one file INTO the
              // branch's root and the source's file set and bytes are
              // untouched
              val rootC = java.nio.file.Files
                .createTempDirectory("graft-clonestress-").toString
              val srcC = s"$rootC/src"
              ops.TxLog.init(srcC)
              ops.TxLog.append(spark, srcC, big
                .select("doc_id", "lang", "n_chars")
                .repartitionByRange(100, col("doc_id"))
                .sortWithinPartitions("doc_id"))
              val srcFiles = ops.TxLog.resolve(srcC).files.toSet
              val srcBytes = srcFiles.toSeq.map(f =>
                java.nio.file.Files.size(
                  java.nio.file.Paths.get(srcC, f))).sum
              val dstC = s"$rootC/branch"
              val t0c = System.nanoTime()
              ops.TxLog.clone(spark, srcC, dstC)
              val cloneSec = (System.nanoTime() - t0c) / 1e9
              val dstData0 = {
                val s0 = java.nio.file.Files.list(
                  java.nio.file.Paths.get(dstC, "data"))
                try s0.count() finally s0.close()
              }
              val nClone = ops.TxLog.snapshot(spark, dstC).count()
              val vDel = ops.TxLog.deleteWhere(spark, dstC, "doc_id",
                Seq(5000100L, 5000101L, 5000102L))
              val ciDel = ops.TxLog.commitInfoAt(dstC, vDel)
              val totalC = big.count()
              val nBranch = ops.TxLog.snapshot(spark, dstC).count()
              val nSrc = ops.TxLog.snapshot(spark, srcC).count()
              val srcBytesAfter = srcFiles.toSeq.map(f =>
                java.nio.file.Files.size(
                  java.nio.file.Paths.get(srcC, f))).sum
              val secC = (System.nanoTime() - t0c) / 1e9
              println(f"sec=$secC%.1f cloneSec=$cloneSec%.1f " +
                f"cloneDataFiles=$dstData0 clone=$nClone/$totalC " +
                f"branchDelRewrote=${ciDel.removes.size} " +
                f"branch=$nBranch/${totalC - 3} src=$nSrc/$totalC " +
                (if (dstData0 == 0L && nClone == totalC &&
                     ciDel.removes.size == 1 &&
                     nBranch == totalC - 3 && nSrc == totalC &&
                     ops.TxLog.resolve(srcC).files.toSet == srcFiles &&
                     srcBytesAfter == srcBytes &&
                     cloneSec < 30) "OK" else "MISMATCH"))
            case "tablestream" =>
              // the graft-table streaming source at 20x: replay a
              // 21-commit lifecycle (20 appends of 5k rows + one
              // compaction) from version 0 at 4 commits per
              // micro-batch, then consume one live append — the
              // landed feed must equal the final snapshot EXACTLY
              // (multiset: no loss, no double-emit, compaction
              // interval contributing nothing), and the DSv2 ledger
              // read must prune to the pushed version range
              val rootS = java.nio.file.Files
                .createTempDirectory("graft-tsstress-").toString
              val tableS = s"$rootS/t"
              ops.TxLog.init(tableS)
              val t0s = System.nanoTime()
              (0 until 20).foreach { i =>
                ops.TxLog.append(spark, tableS, base
                  .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
                  .select("doc_id", "lang", "n_chars"))
              }
              ops.TxLog.compact(spark, tableS, 64L << 20) // v20, silent
              val qS = spark.readStream.format("graft-table")
                .option("startingVersion", "0")
                .option("maxVersionsPerTrigger", "4").load(tableS)
                .writeStream.format("parquet")
                .option("path", s"$rootS/feed")
                .option("checkpointLocation", s"$rootS/ckpt").start()
              val nBatches = try {
                qS.processAllAvailable()
                // one live append consumed by the running stream
                ops.TxLog.append(spark, tableS, base
                  .withColumn("doc_id", col("doc_id") + lit(20000000L))
                  .select("doc_id", "lang", "n_chars"))
                qS.processAllAvailable()
                qS.recentProgress.count(_.numInputRows > 0)
              } finally qS.stop()
              val secS = (System.nanoTime() - t0s) / 1e9
              val feed = spark.read.parquet(s"$rootS/feed")
              val snap = ops.TxLog.snapshot(spark, tableS)
              val onlyFeed = feed.exceptAll(snap).count()
              val onlySnap = snap.exceptAll(feed).count()
              val nFeed = feed.count()
              // DSv2 ledger at scale: pushed version range opens only
              // its own commit files
              val hist = spark.read.format("graft-table-history")
                .load(tableS)
              val slice = hist.filter(col("version") >= 5 &&
                col("version") <= 9)
              val planS = slice.queryExecution.executedPlan.toString
              val histOk = slice.count() == 5 &&
                planS.contains("versionBounds=[5, 9]") &&
                hist.filter(col("op") === "append").count() == 21 &&
                hist.filter(col("op") === "compact").count() == 1
              println(f"sec=$secS%.1f feed=$nFeed batches=$nBatches " +
                f"onlyFeed=$onlyFeed onlySnap=$onlySnap histOk=$histOk " +
                (if (onlyFeed == 0 && onlySnap == 0 &&
                     nFeed == 105000L && histOk) "OK" else "MISMATCH"))
          }
        } else if (n == "idx-stem-nopersist") {
          search.Indexer.postings(search.Indexer.documents(spark, sfDir))
            .write.format("noop").mode("overwrite").save()
        } else if (n == "idx-nostem-nopersist") {
          search.Indexer.postings(search.Indexer.documents(spark, sfDir), stem = false)
            .write.format("noop").mode("overwrite").save()
        } else if (n == "occurrences-stem") {
          search.Indexer.termOccurrences(search.Indexer.documents(spark, sfDir), Seq.empty)
            .write.format("noop").mode("overwrite").save()
        } else if (n.startsWith("cmp:")) {
          // cmp:<queryA>:<queryB> — exact multiset equality of two
          // SparkEntry query results (column order ignored by name sort)
          val Array(_, qa, qb) = n.split(":", 3)
          val da = SparkEntry.queries(qa)(spark, sfDir)
          val cols = da.columns.sorted.map(org.apache.spark.sql.functions.col)
          val a = da.select(cols.toIndexedSeq: _*)
          val b = SparkEntry.queries(qb)(spark, sfDir).select(cols.toIndexedSeq: _*)
          val onlyA = a.exceptAll(b).count()
          val onlyB = b.exceptAll(a).count()
          println(s"cmp $qa(${a.count()}) vs $qb(${b.count()}): onlyA=$onlyA onlyB=$onlyB " +
            (if (onlyA == 0 && onlyB == 0) "MATCH" else "DIFF"))
        } else if (n == "minhash-profile") {
          // stage-by-stage volumes + timings of minHashLshVerified's DAG
          import org.apache.spark.sql.functions._
          val docs = search.Indexer.documents(spark, sfDir)
          def timed[T](label: String)(f: => T): T = {
            val s = System.nanoTime(); val r = f
            println(f"  $label%-28s ${(System.nanoTime() - s) / 1e9}%.2f s  $r")
            r
          }
          // mirrors minHashLshVerified's digest-based collapse
          val keyed = ops.Dedup.shingleSets(docs, 3)
            .select(col("doc_id"), col("sh"), size(col("sh")).as("nsh"),
              ops.Dedup.setDigest(col("sh")).as("k"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          timed("keyed sets")(keyed.count())
          val repIds = keyed.groupBy("k").agg(min("doc_id").as("rep"))
          val groups = keyed.join(repIds, "k")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          timed("set groups (digest)")(groups.count())
          val reps = groups.filter(col("nsh") > 0 && col("doc_id") === col("rep"))
          timed("representatives")(reps.count())
          // mirrors the r14 banding + map-side bucket-pair expansion
          val banded = reps
            .select(col("doc_id"),
              transform(col("sh"), s => xxhash64(s)).as("__hs"))
            .select(col("doc_id"), posexplode(
              transform(sequence(lit(0), lit(31)), bnd =>
                xxhash64(transform(sequence(bnd, bnd),
                  i => array_min(transform(col("__hs"), h => xxhash64(h, i)))), bnd)))
            .as(Seq("band", "bucket")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          timed("banded rows")(banded.count())
          val idsCol = col("__ids")
          val pairsOf = flatten(transform(sequence(lit(1), size(idsCol) - 1),
            i => transform(sequence(i + 1, size(idsCol)),
              j => struct(element_at(idsCol, i).as("a"),
                element_at(idsCol, j).as("b")))))
          val candidates = banded.groupBy("band", "bucket")
            .agg(sort_array(collect_list(col("doc_id"))).as("__ids"))
            .filter(size(col("__ids")).between(2, 16))
            .select(explode(pairsOf).as("p"))
            .select(col("p.a").as("rep_a"), col("p.b").as("rep_b"))
            .groupBy("rep_a", "rep_b").agg(count(lit(1)).as("nb"))
            .filter(col("nb") >= 2).select("rep_a", "rep_b")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          timed("candidates (cap16,nb>=2)")(candidates.count())
          val shTbl = reps.select(col("doc_id"), col("sh"))
          val verified = candidates
            .join(shTbl.select(col("doc_id").as("rep_a"), col("sh").as("sh_a")), "rep_a")
            .join(shTbl.select(col("doc_id").as("rep_b"), col("sh").as("sh_b")), "rep_b")
            .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
            .withColumn("jaccard", col("n_common").cast("double") /
              (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
            .filter(col("jaccard") >= 0.2)
          timed("verified pairs")(verified.count())
          timed("full minHashLshVerified")(
            ops.Dedup.minHashLshVerified(docs, 3, 32, 32, 0.2, 16, 2).count())
        } else if (n == "mh-t1") {
          import org.apache.spark.sql.functions._
          val docs = search.Indexer.documents(spark, sfDir)
          def timed[T](label: String)(f: => T): T = {
            val s = System.nanoTime(); val r = f
            println(f"  $label%-28s ${(System.nanoTime() - s) / 1e9}%.2f s  $r")
            r
          }
          timed("warm docs")(docs.count())
          timed("tokens")(docs.select(col("doc_id"),
            search.Analyzer.tokensCol(col("text")).as("t")).agg(sum(size(col("t")))).first())
          timed("shingleSets")(ops.Dedup.shingleSets(docs, 3)
            .agg(sum(size(col("sh")))).first())
          timed("shingleSets noop")(ops.Dedup.shingleSets(docs, 3)
            .write.format("noop").mode("overwrite").save())
          val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
          timed("+window rep")(ops.Dedup.shingleSets(docs, 3)
            .filter(size(col("sh")) > 0)
            .withColumn("rep", min("doc_id").over(w))
            .agg(sum("rep")).first())
          timed("groupBy sh instead")(ops.Dedup.shingleSets(docs, 3)
            .filter(size(col("sh")) > 0)
            .groupBy("sh").agg(min("doc_id").as("rep"), count(lit(1)).as("k"))
            .agg(sum("rep"), sum("k")).first())
          timed("filter+noop")(ops.Dedup.shingleSets(docs, 3)
            .filter(size(col("sh")) > 0)
            .write.format("noop").mode("overwrite").save())
          timed("repartition+noop")(ops.Dedup.shingleSets(docs, 3)
            .repartition(32, col("sh"))
            .write.format("noop").mode("overwrite").save())
          timed("digest+groupBy(no arrays)")(ops.Dedup.shingleSets(docs, 3)
            .select(col("doc_id"), xxhash64(col("sh")).as("shh"), size(col("sh")).as("nsh"))
            .filter(col("nsh") > 0)
            .groupBy("shh").agg(min("doc_id").as("rep"), count(lit(1)).as("k"))
            .agg(sum("rep"), sum("k")).first())
          timed("groupBy digest")(ops.Dedup.shingleSets(docs, 3)
            .filter(size(col("sh")) > 0)
            .groupBy(xxhash64(col("sh")).as("shh"))
            .agg(min("doc_id").as("rep"), count(lit(1)).as("k"))
            .agg(sum("rep"), sum("k")).first())
        } else if (n == "tok-t1") {
          // how much of a corpus pass is the regex tokenizer itself?
          import org.apache.spark.sql.functions._
          val docs = search.Indexer.documents(spark, sfDir)
          def timed[T](label: String)(f: => T): T = {
            val s = System.nanoTime(); val r = f
            println(f"  $label%-30s ${(System.nanoTime() - s) / 1e9}%.2f s")
            r
          }
          docs.count()
          for (_ <- 1 to 2) {
            timed("scan only (noop)")(docs.select("doc_id", "text")
              .write.format("noop").mode("overwrite").save())
            timed("lower+split ws (noop)")(docs.select(col("doc_id"),
              split(lower(col("text")), " ", -1).as("t"))
              .write.format("noop").mode("overwrite").save())
            timed("tokensCol regex (noop)")(docs.select(col("doc_id"),
              search.Analyzer.tokensCol(col("text")).as("t"))
              .write.format("noop").mode("overwrite").save())
            timed("tokensCol + explode (noop)")(docs.select(col("doc_id"),
              explode(search.Analyzer.tokensCol(col("text"))).as("t"))
              .write.format("noop").mode("overwrite").save())
          }
        } else if (n == "mh-full") {
          // end-to-end minHashLshVerified wall time, 3 repetitions
          import org.apache.spark.sql.functions._
          val docs = search.Indexer.documents(spark, sfDir)
          docs.count()
          for (r <- 1 to 3) {
            val t1 = System.nanoTime()
            val c = ops.Dedup.minHashLshVerified(docs, 3, 32, 32, 0.2, 16, 2).count()
            println(f"  full[$r] ${(System.nanoTime() - t1) / 1e9}%.2f s  pairs=$c")
          }
        } else if (n == "mh-t2") {
          // keyed-sets persist (fat arrays, 2 consumers) vs recompute
          // (map-side pipeline runs twice, no columnar cache write):
          // which materialization strategy wins for the rep-collapse?
          import org.apache.spark.sql.functions._
          val docs = search.Indexer.documents(spark, sfDir)
          def timed[T](label: String)(f: => T): T = {
            val s = System.nanoTime(); val r = f
            println(f"  $label%-34s ${(System.nanoTime() - s) / 1e9}%.2f s  $r")
            r
          }
          def keyed() = ops.Dedup.shingleSets(docs, 3)
            .select(col("doc_id"), col("sh"), size(col("sh")).as("nsh"),
              ops.Dedup.setDigest(col("sh")).as("k"))
          timed("warm")(docs.count())
          for (round <- 1 to 2) {
            val kA = keyed()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            timed(s"A$round: keyed persist+count")(kA.count())
            val gA = kA.join(kA.groupBy("k").agg(min("doc_id").as("rep")), "k")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            timed(s"A$round: groups persist+count")(gA.count())
            gA.unpersist(true); kA.unpersist(true)
            val kB = keyed()
            val gB = kB.join(
                kB.select("k", "doc_id").groupBy("k").agg(min("doc_id").as("rep")),
                "k")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            timed(s"B$round: groups persist+count (no keyed cache)")(gB.count())
            gB.unpersist(true)
          }
        } else if (n == "minhash-bucketstats") {
          // picks maxBucket for minHashLshVerified: bucket-size
          // distribution of the 1-row-band LSH, and for each candidate
          // cap the surviving candidate-pair volume and how many TRUE
          // pairs (exact Jaccard >= 0.2) would lose every colliding
          // bucket (must be 0 for the oracle to stay exact)
          import org.apache.spark.sql.functions._
          val docs = search.Indexer.documents(spark, sfDir)
          val spark2 = docs.sparkSession
          import spark2.implicits._
          // mirrors the r14 banding (hash-once longs, array-hash bucket)
          val banded = ops.Dedup.shingleSets(docs, 3)
            .filter(size(col("sh")) > 0)
            .select(col("doc_id"),
              transform(col("sh"), s => xxhash64(s)).as("__hs"))
            .select(col("doc_id"), posexplode(
              transform(sequence(lit(0), lit(31)), bnd =>
                xxhash64(transform(sequence(bnd, bnd),
                  i => array_min(transform(col("__hs"), h => xxhash64(h, i)))), bnd)))
              .as(Seq("band", "bucket")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val bsz = banded.groupBy("band", "bucket").agg(count("*").as("bsz"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val dist = bsz.agg(count(lit(1)), max("bsz"),
            expr("percentile(bsz, 0.5)"), expr("percentile(bsz, 0.99)")).first()
          println(s"buckets=${dist.getLong(0)} maxSize=${dist.getLong(1)} " +
            s"p50=${dist.getDouble(2)} p99=${dist.getDouble(3)}")
          val truePairsJ = ops.Dedup.ngramJaccard(docs, 3, 0.2)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val truePairs = truePairsJ.select("doc_a", "doc_b")
          println(s"truePairs(j>=0.2)=${truePairs.count()}")
          // safety margin: per true pair, how many bands agree, and the
          // jaccard distribution near the minJ cliff
          val collisions = banded
            .select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
            .join(banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
              Seq("band", "bucket"))
            .filter(col("doc_a") < col("doc_b"))
            .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("nb"))
          val tp = truePairsJ.join(collisions, Seq("doc_a", "doc_b"), "left")
            .select(col("jaccard"), coalesce(col("nb"), lit(0)).as("nb"))
          val marg = tp.agg(min("nb"), min("jaccard"),
            sum(when(col("nb") <= 3, 1).otherwise(0)),
            sum(when(col("jaccard") <= 0.25, 1).otherwise(0))).first()
          println(s"truePair margins: minAgreeingBands=${marg.get(0)} " +
            s"minJaccard=${marg.get(1)} nbLe3=${marg.get(2)} jLe0.25=${marg.get(3)}")
          for (cap <- Seq(4, 8, 16, 32, 64, 128, 256); minBands <- Seq(1, 2)) {
            val kept = banded.join(bsz.filter(col("bsz") <= cap)
              .select("band", "bucket"), Seq("band", "bucket"), "left_semi")
            val cands = kept.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
              .join(kept.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
                Seq("band", "bucket"))
              .filter(col("doc_a") < col("doc_b"))
              .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("nb"))
              .filter(col("nb") >= minBands)
              .select("doc_a", "doc_b")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val nCand = cands.count()
            val missed = truePairs.join(cands, Seq("doc_a", "doc_b"), "left_anti").count()
            println(s"cap=$cap minBands=$minBands candidatePairs=$nCand missedTruePairs=$missed")
            cands.unpersist()
          }
        } else if (n == "minhash-vs-exact") {
          val docs = search.Indexer.documents(spark, sfDir)
          val v = ops.Dedup.minHashLshVerified(docs, 3, 32, 32, 0.2, 16, 2)
          val e = ops.Dedup.ngramJaccard(docs, 3, 0.2)
          val onlyV = v.exceptAll(e).count(); val onlyE = e.exceptAll(v).count()
          println(s"minhash verified=${v.count()} exact=${e.count()} onlyV=$onlyV onlyE=$onlyE "
            + (if (onlyV == 0 && onlyE == 0) "MATCH" else "DIFF"))
        } else if (n.startsWith("embband-cand:")) {
          // embband-cand:<planes>:<tables> — distinct candidate-pair
          // volume of the banded hyperplane LSH (threshold-independent):
          // the pruning evidence for the NOTES candidates-per-config table
          import org.apache.spark.sql.functions._
          val parts = n.split(":")
          val (p, tb) = (parts(1).toInt, parts(2).toInt)
          val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          val sigTables = graft.functions.VectorExpressions
            .hyperplaneSignatures(col("embedding"), p, tb)
          val buckets = emb
            .select(col("vec_id"), posexplode(sigTables).as(Seq("tbl", "bucket")))
          val nCand = buckets
            .select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
            .join(buckets.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b")),
              Seq("tbl", "bucket"))
            .filter(col("vec_a") < col("vec_b"))
            .select("vec_a", "vec_b").distinct().count()
          val nVec = emb.count()
          println(s"embband-cand(planes=$p,tables=$tb): vectors=$nVec " +
            s"candidatePairs=$nCand allPairs=${nVec * (nVec - 1) / 2}")
        } else if (n.startsWith("embband-vs-exact")) {
          // embband-vs-exact[:minCos:planes:tables]
          val parts = n.split(":")
          val (mc, p, tb) =
            if (parts.length == 4) (parts(1).toDouble, parts(2).toInt, parts(3).toInt)
            else (0.4, 3, 32)
          val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          val v = ops.Dedup.embeddingNearDupBanded(emb, mc, p, tb)
          val e = ops.Dedup.embeddingNearDupExact(emb, mc)
          val onlyV = v.exceptAll(e).count(); val onlyE = e.exceptAll(v).count()
          println(s"embband($mc,$p,$tb) banded=${v.count()} exact=${e.count()} onlyV=$onlyV onlyE=$onlyE "
            + (if (onlyV == 0 && onlyE == 0) "MATCH" else "DIFF"))
        } else if (n.startsWith("lshtopk:") || n.startsWith("ivftopk:") ||
            n.startsWith("quanttopk:") || n.startsWith("pqtopk:")) {
          // lshtopk:<maxBitDiff> / ivftopk:<nProbe> / quanttopk:<rerank>
          // / pqtopk:<rerank> — recall vs brute force
          import org.apache.spark.sql.functions._
          val param = n.split(":")(1).toInt
          val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") =!= 0)
          val qVec = spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") === 0).select("embedding")
            .collect()(0).getSeq[Float](0).map(_.toDouble)
          val base = java.nio.file.Files.createTempDirectory("graft-tune-").toString
          val res =
            if (n.startsWith("quanttopk:")) {
              ops.Similarity.quantizedTopK(e, qVec, 10, rerank = param)
            } else if (n.startsWith("pqtopk:")) {
              ops.Similarity.pqTopK(e, qVec, 10, rerank = param)
            } else if (n.startsWith("lshtopk:")) {
              ops.AnnIndex.lshWrite(e, s"$base/lsh", planes = 12)
              ops.AnnIndex.lshTopK(spark, s"$base/lsh", qVec, 10, planes = 12,
                maxBitDiff = param)
            } else {
              val m = ops.AnnIndex.ivfWrite(e, s"$base/ivf", k = 16)
              ops.AnnIndex.ivfTopK(spark, m, qVec, 10, nProbe = param)
            }
          val brute = ops.Similarity.bruteForceTopK(e, qVec, 10)
          val a = res.select(round(col("cosine"), 4).as("cosine"), col("vec_id"))
          val b = brute.select(round(col("cosine"), 4).as("cosine"), col("vec_id"))
          val d = a.exceptAll(b).count() + b.exceptAll(a).count()
          println(s"$n diff=$d " + (if (d == 0) "MATCH" else "DIFF"))
        } else if (n == "genpins") {
          // Regenerate PinnedOracles.scala: corpus-pinned VALUES oracles
          // for deterministic engine-specific operators (run at sf0.01,
          // the driver's correctness scale).
          // Everything pinned here is partitioning-invariant:
          // min(xxhash64) / integer votes / rounded Lloyd means / HLL
          // (max-merged registers) + exact percentile. Each entry carries
          // a one-line justification for why no real SQL oracle exists;
          // anything that CAN be SQL-checked must not be added here
          // (search_snippets was unpinned to invariant SQL in r5).
          // sim_ivf_topk was unpinned in r8: ivfTrain now uses the
          // oracle-exact Lloyd (smallest-vec_id seeds, integer-scaled
          // update) and the probe ranks on the 9-dp cosine grid, so the
          // whole train+probe replays as an unrolled DuckDB CTE.
          val pinned = Seq(
            "text_fingerprint" ->
              ("rolling xxhash64 fingerprint: DuckDB has no xxhash64 " +
                "(hash() is a different function), so the value is engine-specific"),
            "dedup_simhash" ->
              ("64-bit simhash = majority vote over xxhash64 bits - " +
                "not derivable without xxhash64; pair ALGORITHM is property-tested"))
          // q_approx_sketch is NOT pinned here: its median half is real
          // DuckDB SQL (quantile_cont); only the HLL column rides on an
          // inline VALUES join in its registry oracle.
          def sqlLit(v: Any): String = v match {
            case null => "NULL"
            case s: String => "'" + s.replace("'", "''") + "'"
            case d: Double => d.toString
            case f: Float => f.toString
            case x => x.toString
          }
          def ddbType(dt: org.apache.spark.sql.types.DataType): String = dt match {
            case org.apache.spark.sql.types.LongType => "BIGINT"
            case org.apache.spark.sql.types.IntegerType => "INTEGER"
            case org.apache.spark.sql.types.DoubleType => "DOUBLE"
            case org.apache.spark.sql.types.FloatType => "FLOAT"
            case _ => "VARCHAR"
          }
          val sb = new StringBuilder
          sb.append("package graft\n\n")
          sb.append("/** GENERATED by `Test/runMain graft.Scratch <sfDir> genpins` — do not edit.\n")
          sb.append("  *\n")
          sb.append("  * Corpus-pinned expected outputs (driver correctness corpus, sf0.01)\n")
          sb.append("  * for operators whose values are deterministic but engine-specific\n")
          sb.append("  * (xxhash64 fingerprints) — the same\n")
          sb.append("  * pattern as postings_stemmed's stem-map oracle. Each operator's\n")
          sb.append("  * ALGORITHM is pinned by unit/property tests; these rows pin the\n")
          sb.append("  * end-to-end result against regressions. Every entry carries the\n")
          sb.append("  * one-line reason a real SQL oracle is impossible for it.\n")
          sb.append("  *\n")
          sb.append("  * CROSS-CHECKED by `python3 tools/check_pins.py <sfDir>`: an\n")
          sb.append("  * independent pure-Python xxhash64 (tools/xxhash64.py, public\n")
          sb.append("  * spec) recomputes every row from the parquet corpus — run it\n")
          sb.append("  * after every genpins; a corrupted pin is caught by something\n")
          sb.append("  * other than the engine that generated it.\n")
          sb.append("  */\n")
          sb.append("object PinnedOracles {\n  val sql: Map[String, String] = Map(\n")
          for (((q, why), qi) <- pinned.zipWithIndex) {
            sb.append("    // " + why + "\n")
            val df = SparkEntry.queries(q)(spark, sfDir)
            val schema = df.schema
            // sorted: collect order is partition order, which the core
            // count would otherwise leak into the generated file
            val rows = df.orderBy(schema.fieldNames
              .map(org.apache.spark.sql.functions.col): _*)
              .collect().map(r =>
              "(" + schema.indices.map(i => sqlLit(r.get(i))).mkString(", ") + ")")
            val cols = schema.map(f =>
              s"CAST(${f.name} AS ${ddbType(f.dataType)}) AS ${f.name}").mkString(", ")
            val names = schema.map(_.name).mkString(", ")
            val sql = s"SELECT $cols FROM (VALUES " + rows.mkString(", ") + s") AS t($names)"
            sb.append("    \"" + q + "\" ->\n      \"\"\"" + sql + "\"\"\"")
            sb.append(if (qi < pinned.length - 1) ",\n" else "\n")
            println(s"pinned $q: ${rows.length} rows")
          }
          sb.append("  )\n}\n")
          // relative to the working directory: the checkout it runs in
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get("src/main/scala/graft/PinnedOracles.scala"),
            sb.toString)
          println("wrote PinnedOracles.scala")
        } else if (n == "idxcodec") {
          // index size: snappy vs zstd (X4 evidence — at 100 TB the
          // codec choice is a real storage/scan-cost lever)
          import org.apache.spark.sql.functions._
          val idx = search.Indexer.postings(search.Indexer.documents(spark, sfDir))
          def sizeOf(dir: java.io.File): Long =
            if (dir.isFile) dir.length
            else Option(dir.listFiles).map(_.map(sizeOf).sum).getOrElse(0L)
          for (codec <- Seq("snappy", "zstd")) {
            val path = java.nio.file.Files.createTempDirectory(s"graft-idx-$codec-")
              .resolve("idx").toString
            idx.repartitionByRange(10, col("term"))
              .sortWithinPartitions("term", "doc_id")
              .write.mode("overwrite").option("compression", codec).parquet(path)
            println(f"$codec%-7s ${sizeOf(new java.io.File(path)) / 1024.0}%10.1f KiB")
          }
        } else if (n == "maxshingle") {
          import org.apache.spark.sql.functions._
          val sh = ops.Dedup.shingles(search.Indexer.documents(spark, sfDir), 3)
          println("max shingle df: " + sh.groupBy("shingle").count()
            .agg(max("count")).first())
        } else if (n == "embcosdist") {
          import org.apache.spark.sql.functions._
          val pairs = ops.Dedup.embeddingNearDupExact(
            spark.read.parquet(s"$sfDir/embeddings.parquet"), -1.0)
          pairs.select(floor(col("cosine") * 10).as("bucket"))
            .groupBy("bucket").count().orderBy("bucket").show(30)
        } else if (n.startsWith("explain:")) {
          val q = n.stripPrefix("explain:")
          SparkEntry.queries(q)(spark, sfDir).explain("formatted")
        } else if (n.startsWith("plan:")) {
          // the EXACT fingerprint input (Bench.normalizedPlan) — dump
          // from two runs/compositions and `diff` to root-cause a
          // fingerprint flip without a full bench pass
          val q = n.stripPrefix("plan:")
          val df = SparkEntry.queries(q)(spark, sfDir)
          println(s"FP=${Bench.fingerprint(df)}")
          println(Bench.normalizedPlan(df))
        } else if (n.startsWith("search:")) {
          val docs = search.Indexer.documents(spark, sfDir)
          val idx = search.Indexer.postings(docs)
          val df = search.SearchEngine.search(n.stripPrefix("search:"), idx, docs,
            stopWords = Set("the", "a"))
          df.show(5, truncate = false)
          println(s"rows=${df.count()}")
        } else {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable => e.printStackTrace() }
      println(f"[time] $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
