package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** LLM-operator properties that the DuckDB oracles can't express:
  * LSH recall vs brute force, banded-candidate exactness, stub decode
  * determinism. */
class LlmSpec extends SparkSpec {

  private def docs = Tables.read(spark, sf(), "documents")
  private def emb = Tables.read(spark, sf(), "embeddings")

  test("minhash-LSH finds every exact-jaccard pair at tau=0.5 here") {
    val exact = Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    assert(lsh == exact,
      s"LSH missed ${(exact -- lsh).size}, extra ${(lsh -- exact).size}")
  }

  test("simhash banded candidates are exact for hamming <= bands-1") {
    // brute-force hamming pairs over the full fingerprint relation must
    // equal the banded result (pigeonhole guarantee)
    val banded = Dedup.simHashPairs(docs, "doc_id", "text", hammingMax = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming")))
    assert(banded.nonEmpty)
    assert(banded.forall(_._3 <= 3))
    val fps = Dedup.simHashFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = (for {
      (ia, la, ha) <- fps; (ib, lb, hb) <- fps if ia < ib
      d = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ia, ib, d)).toSet
    assert(banded.toSet == brute,
      s"banded missed ${(brute -- banded).size}, extra ${(banded.toSet -- brute).size}")
  }

  test("image near-dup: aHash recovers planted patterns; banded join " +
    "exact, no all-pairs") {
    import spark.implicits._
    val ids = (0L until 64L).toDF("doc_id")
    val hashes = Multimodal.imageAHash(
      Multimodal.synthesizeNearDupImages(ids, "doc_id")).toDF()
      .select(col("doc_id"), col("ahash_lo").as("lo"), col("ahash_hi").as("hi"))
    // decoded hash == the planted md5 pattern with the member bit flip
    val got = hashes.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = (0L until 64L).map { id =>
      val f = id / 4; val m = (id % 4).toInt
      val hex = md.digest(s"img$f".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      var lo = java.lang.Long.parseLong(hex.substring(0, 8), 16)
      var hi = java.lang.Long.parseLong(hex.substring(8, 16), 16)
      if (m > 0) {
        val p = ((f + 17L * m) % 64).toInt
        if (p < 32) lo ^= 1L << p else hi ^= 1L << (p - 32)
      }
      (id, lo, hi)
    }
    assert(got.toSet == expect.toSet)
    // banded pairs == brute-force hamming <= 3 (pigeonhole exactness)
    val pairs = Dedup.hammingPairs64(hashes, hammingMax = 3)
    val gotPairs = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Int]("hamming"))).toSet
    val brute = (for {
      (ia, la, ha) <- expect; (ib, lb, hb) <- expect if ia < ib
      d = java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ia, ib, d)).toSet
    assert(gotPairs == brute)
    // each 4-member family yields its 6 pairs (members differ by <= 2 bits)
    assert(brute.size >= 16 * 6, s"planted families missing: ${brute.size}")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded hamming join must be an equi-join:\n$plan")
  }

  test("connected components label every doc with its min reachable id") {
    import spark.implicits._
    // two components (1-2-3 chain, 10-11) — 3 reaches 1 only transitively
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components converge in O(log n) rounds on a long chain") {
    import spark.implicits._
    // a 300-node path: plain propagation needs 300 rounds (beyond the
    // maxIter guard) — pointer jumping must collapse it within the cap;
    // a broadcast bound of -1 keeps the chain off the driver route
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = onRoundsRoute(
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got.size == 300)
    assert(got.values.forall(_ == 0L), "whole chain must collapse to node 0")
  }

  test("cluster assignment agrees with the pair graph on real docs") {
    val pairs = Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.connectedComponents(
      Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, 0.5),
      "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    // every paired doc is labeled, pair endpoints share a cluster, and the
    // representative is a member of its own cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.values.foreach(c => assert(clusters(c) == c))
  }

  test("capPairsPerDoc bounds dup-soup output, keeps every doc attached") {
    import spark.implicits._
    // 30 identical docs → a complete pair graph: 30·29/2 = 435 pairs
    val soup = (1L to 30L)
      .map(i => (i, "many copies of this exact same sentence for the test"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardShinglePairs(soup, "doc_id", "text", 3, 0.5)
    assert(pairs.count() == 435)
    val capped = Dedup.capPairsPerDoc(pairs, "jaccard", k = 2)
    val n = capped.count()
    assert(n <= 2 * 2 * 30, s"capped output must be <= 2kN, got $n")
    assert(n < 435, "cap must actually prune a complete graph")
    // union-over-endpoints guarantee: no doc loses all its edges
    val attached = capped.select("id_a")
      .union(capped.select(col("id_b").as("id_a"))).distinct().count()
    assert(attached == 30)
    // capped output is a SUBSET of the uncapped pairs, rows intact
    assert(capped.exceptAll(pairs).isEmpty)
  }

  test("clique-contracted CC equals plain CC on real docs") {
    val plain = Dedup.connectedComponents(
      Dedup.jaccardShinglePairs(docs, "doc_id", "text", 3, 0.5),
      "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val contracted = Dedup.nearDupClusters(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain.nonEmpty)
    assert(contracted == plain)
  }

  test("contracted CC handles isolated exact cliques and mixed components") {
    import spark.implicits._
    // docs 1,2,3: one exact clique with NO external near-dup edge (must
    // still come out labeled, all with cluster_id 1). docs 10,11 exact
    // dups; doc 12 a near-dup of 11 only (template suffix): the clique's
    // external edge must carry 12 into cluster 10.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val alt = "completely different text about graph contraction semantics here yes"
    val df = Seq(
      (1L, base), (2L, base), (3L, base),
      (10L, alt), (11L, alt), (12L, alt + " extra"),
      (99L, "an unrelated singleton document with no duplicate partner at all")
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupClusters(df, "doc_id", "text", 3, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Dedup.connectedComponents(
      Dedup.jaccardShinglePairs(df, "doc_id", "text", 3, 0.5),
      "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L && got(12L) == 10L)
    assert(!got.contains(99L), "singletons stay out of the cluster relation")
  }

  test("IVF kNN sims agree exactly with brute force where visible") {
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("sim"))).toMap
    val ivf = Similarity.ivfKnn(emb, queries, "vec_id", "embedding", 5, 16, 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("sim")))
    assert(ivf.nonEmpty)
    ivf.foreach { case (k, sim) =>
      brute.get(k).foreach(bs => assert(bs == sim, s"sim mismatch for $k"))
    }
    // probing every cell makes IVF exhaustive — must equal brute-force top-5
    val exhaustive = Similarity.ivfKnn(emb, queries, "vec_id", "embedding", 5, 16, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("rank"))).toSet
    val bruteTop = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("rank"))).toSet
    assert(exhaustive == bruteTop, "nProbe=nList IVF must equal brute force")
  }

  test("LSH kNN results are a subset of same-bucket exact cosine ranks") {
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceKnn(emb, queries, "vec_id", "embedding", 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("sim"))).toMap
    val lsh = Similarity.lshKnn(emb, queries, "vec_id", "embedding", 5, 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("sim")))
    assert(lsh.nonEmpty)
    // every LSH hit's similarity agrees exactly with brute force where visible
    lsh.foreach { case (k, sim) =>
      brute.get(k).foreach(bs => assert(bs == sim, s"sim mismatch for $k"))
    }
  }

  test("chunking reassembles to the normalized text, sizes exact") {
    import spark.implicits._
    val k = 7 // awkward chunk size: last chunks are short
    val chunks = TextAnalysis.chunkDocuments(docs, "doc_id", "text", k)
    // reassembly: chunks joined in chunk_idx order == the normalized doc
    val together = chunks
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(
        struct(col("chunk_idx"), col("chunk_text"))))
        .getField("chunk_text")).as("rebuilt"),
        sum("n_tokens").as("total_tokens"),
        count(lit(1)).as("n_chunks"),
        max("n_tokens").as("max_nt"))
    val joined = together.join(
      docs.select(col("doc_id"),
        TextOps.normText(col("text")).as("norm"),
        size(TextOps.words(col("text"))).as("nw")), "doc_id")
    assert(joined.filter(col("rebuilt") =!= col("norm")).count() == 0,
      "some doc did not reassemble from its chunks")
    // token accounting: Σ n_tokens == word count, ⌈nw/k⌉ chunks, none over k
    assert(joined.filter(col("total_tokens") =!= col("nw")).count() == 0)
    assert(joined.filter(
      col("n_chunks") =!= ceil(col("nw") / lit(k.toDouble)).cast("long"))
      .count() == 0)
    assert(joined.filter(col("max_nt") > k).count() == 0)
  }

  test("native ChunkWindows ≡ the interpreted column formulation it " +
    "replaced (r18), including empty/short/sentinel docs") {
    // the r18 optimization swapped the transform(sequence, i ->
    // struct(..slice..)) interpreted-lambda chain for one compiled pass
    // (graft.functions.ChunkWindows); this pins row-for-row equality of
    // the two formulations on awkward shapes: empty text (one window,
    // nt = 0), single token, exactly k, k+1, and multi-window tails
    import spark.implicits._
    import org.apache.spark.sql.GraftSql
    val (k, s) = (5, 2)
    val fixture = Seq(
      (1L, ""), (2L, "a"), (3L, "a b c d e"), (4L, "a b c d e f"),
      (5L, "  padded   whitespace   doc  "),
      (6L, (1 to 23).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val pre = fixture.select(col("doc_id"),
      TextOps.words(col("text")).as("__w"))
    val oldForm = expr(
      s"""element_at(transform(array(__w), arr ->
         |  transform(sequence(0,
         |      CAST(greatest(size(arr) - $k + $s - 1, 0) div $s AS INT)),
         |    i -> struct(i AS ci, i * $s AS st,
         |                concat_ws(' ', slice(arr, i * $s + 1, $k)) AS ct,
         |                least(size(arr) - i * $s, $k) AS nt))),
         |  1)""".stripMargin)
    val newForm = GraftSql.column(graft.functions.ChunkWindows(
      GraftSql.expression(col("__w")), k, s))
    val both = pre.select(col("doc_id"),
      explode(arrays_zip(oldForm.as("o"), newForm.as("n"))).as("z"))
    assert(both.filter(
      col("z.o.ci") =!= col("z.n.ci") || col("z.o.st") =!= col("z.n.st") ||
        col("z.o.ct") =!= col("z.n.ct") || col("z.o.nt") =!= col("z.n.nt"))
      .count() == 0, "native and column chunk windows must agree row-for-row")
    // and the window COUNTS agree (arrays_zip pads a length mismatch
    // with nulls, which the field comparison above would miss if BOTH
    // sides of a padded row were null)
    assert(pre.filter(size(oldForm) =!= size(newForm)).count() == 0,
      "native and column window counts must agree")
  }

  test("overlap chunking: exact slices, full coverage, stride spacing") {
    import spark.implicits._
    val (k, s) = (7, 3) // awkward: windows share 4 tokens, tails ragged
    val chunks = TextAnalysis.chunkDocumentsOverlap(
      docs, "doc_id", "text", chunkTokens = k, stride = s)
    val withWords = chunks.join(
      docs.select(col("doc_id"),
        TextOps.words(col("text")).as("w"),
        size(TextOps.words(col("text"))).as("nw")), "doc_id")
    // every window is the EXACT slice of the tokenized doc it claims
    assert(withWords.filter(col("chunk_text") =!=
      concat_ws(" ", slice(col("w"), col("start_tok") + 1, lit(k))))
      .count() == 0, "window text must be the exact token slice")
    // offsets are 0, s, 2s, …; n_tokens = min(k, nw − start)
    assert(withWords.filter(col("start_tok") =!= col("chunk_idx") * s)
      .count() == 0)
    assert(withWords.filter(col("n_tokens") =!=
      least(lit(k), col("nw") - col("start_tok"))).count() == 0)
    // window-count formula and coverage: last window reaches the end,
    // starts before it, and short docs still emit exactly one window
    val per = withWords.groupBy("doc_id", "nw")
      .agg(count(lit(1)).as("n_win"), max("start_tok").as("last_st"),
        max(col("start_tok") + col("n_tokens")).as("covered"))
    assert(per.filter(col("n_win") =!=
      floor(greatest(col("nw") - k + s - 1, lit(0)) / s) + 1).count() == 0)
    assert(per.filter(col("covered") =!= col("nw")).count() == 0,
      "every token must be inside some window")
    assert(per.filter(col("nw") > k)
      .filter(col("last_st") >= col("nw")).count() == 0)
    assert(per.filter(col("nw") <= k).filter(col("n_win") =!= 1)
      .count() == 0)
  }

  test("exact dedup drop keeps one row per normalized text") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "other doc")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropExactDuplicates(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // min doc_id survives
  }

  test("fingerprint is order-sensitive but deterministic") {
    import spark.implicits._
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(3L))
    assert(fps(1L) != fps(2L))
  }

  test("resize and frame-sample stages are partition-local and exact") {
    val bin = Multimodal.asBinary(docs.filter(col("doc_id") < 20),
      "doc_id", "text", "text/plain")
    val resized = Multimodal.resize(bin, 8, 8)
    val rrows = resized.collect()
    assert(rrows.length == 20)
    rrows.foreach { r =>
      assert(r.n_bytes <= 192 && r.width == 8 && r.height == 8)
      assert(r.sha256.length == 64)
    }
    assert(!resized.queryExecution.executedPlan.toString.contains("Exchange"),
      "resize must not shuffle")

    val frames = Multimodal.frameSample(bin, nFrames = 4, frameBytes = 16)
    val frows = frames.collect()
    assert(frows.nonEmpty && frows.forall(f => f.frame_idx < 4))
    // evenly spaced: frame 0 at offset 0; last frame ends at payload end
    val byDoc = frows.groupBy(_.doc_id)
    byDoc.values.foreach { fs =>
      assert(fs.length == 4)
      assert(fs.minBy(_.frame_idx).offset == 0L)
    }
    assert(!frames.queryExecution.executedPlan.toString.contains("Exchange"),
      "frame sampling must not shuffle")
  }

  // Clustered corpus for quantizer-quality tests: 8 well-separated
  // directions, 200 vectors, deterministic LCG jitter. The FIRST 50 ids
  // all sit in cluster 0 — adversarial for the lowest-id quantizer
  // (its seeds are all one direction), while the id-HASH-seeded k-means
  // init is immune to id ordering. (The synthetic embeddings table is
  // near-uniform — no quantizer can show recall structure on it;
  // clustered data is what real embedding corpora look like.)
  private def clusteredEmb = {
    import spark.implicits._
    val dim = 16
    def lcg(s: Long): Long = (2654435761L * s + 1013904223L) % 4294967296L
    val rows = (0L until 200L).map { id =>
      val c = if (id < 50) 0 else (id % 8).toInt
      val vec = (0 until dim).map { d =>
        val center = if (d % 8 == c) 10.0f else 0.0f
        center + (lcg(id * dim + d) % 1000L) / 1000.0f
      }.toArray
      (id, vec)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("k-means centroids are repartition-invariant (exact-integer sums)") {
    val a = Similarity.trainIvfKMeans(clusteredEmb, "vec_id", "embedding",
      nList = 8, iters = 3)
    val b = Similarity.trainIvfKMeans(clusteredEmb.repartition(7),
      "vec_id", "embedding", nList = 8, iters = 3)
    assert(a == b, "training must be bit-identical under repartition")
  }

  test("trained IVF quantizer recall >= lowest-id quantizer's") {
    val corpus = clusteredEmb
    val queries = corpus.filter(col("vec_id") % 25 === 0)
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val truth = top5(Similarity.bruteForceKnn(
      corpus, queries, "vec_id", "embedding", 5))
    def recall(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        got.get(q).fold(0.0)(g => (g & t).size.toDouble / t.size)
      }.sum / truth.size
    val trained = recall(top5(Similarity.ivfKnnTrained(
      corpus, queries, "vec_id", "embedding", 5, nList = 8, nProbe = 2)))
    val lowestId = recall(top5(Similarity.ivfKnn(
      corpus, queries, "vec_id", "embedding", 5, nList = 8, nProbe = 2)))
    info(f"recall@5: trained=$trained%.3f lowest-id=$lowestId%.3f")
    assert(trained >= lowestId,
      f"trained k-means recall $trained%.3f < lowest-id $lowestId%.3f")
    assert(trained >= 0.9,
      f"on well-clustered data the trained quantizer should be near-exact, got $trained%.3f")
  }

  test("multi-probe LSH recall >= single-probe on clustered data") {
    val corpus = clusteredEmb
    val queries = corpus.filter(col("vec_id") % 25 === 0)
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val truth = top5(Similarity.bruteForceKnn(
      corpus, queries, "vec_id", "embedding", 5))
    def recall(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        got.get(q).fold(0.0)(g => (g & t).size.toDouble / t.size)
      }.sum / truth.size
    val single = recall(top5(Similarity.lshKnn(
      corpus, queries, "vec_id", "embedding", 5, nPlanes = 8, dim = 16)))
    val multi = recall(top5(Similarity.lshKnn(
      corpus, queries, "vec_id", "embedding", 5, nPlanes = 8, dim = 16,
      multiProbe = true)))
    info(f"recall@5: single=$single%.3f multi-probe=$multi%.3f")
    assert(multi >= single,
      f"hamming-1 probing must not lose recall: $multi%.3f < $single%.3f")
  }

  test("trained quantizer separates true clusters; lowest-id cannot") {
    // Intrinsic quantizer quality (recall can hide degeneracy: a
    // quantizer that dumps everything in one cell still "recalls" —
    // queries co-locate with their neighbors — it just stops pruning).
    // Metric: how many DISTINCT cells the 8 true clusters map to
    // (majority vote). k-means must recover all 8; the all-one-direction
    // lowest-id seeds cannot.
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      d / (math.sqrt(a.foldLeft(0.0)((s, x) => s + x * x)) *
        math.sqrt(b.foldLeft(0.0)((s, x) => s + x * x)))
    }
    def argmax(cents: Seq[Seq[Double]], v: Seq[Double]): Int =
      cents.zipWithIndex.map { case (c, j) => (cos(v, c), j) }.max._2
    def distinctMajorityCells(cents: Seq[Seq[Double]],
        vecs: Seq[(Long, Seq[Double])]): Int =
      vecs.groupBy { case (id, _) => if (id < 50) 0 else (id % 8).toInt }
        .map { case (_, members) =>
          members.map { case (_, v) => argmax(cents, v) }
            .groupBy(identity).maxBy(_._2.size)._1
        }.toSet.size

    val vecs = clusteredEmb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq
    }.toSeq
    val trained = Similarity.trainIvfKMeans(
      clusteredEmb, "vec_id", "embedding", nList = 8, iters = 3)
    val lowestId = vecs.sortBy(_._1).take(8).map(_._2)
    val (nTrained, nLowest) =
      (distinctMajorityCells(trained, vecs),
        distinctMajorityCells(lowestId, vecs))
    info(s"distinct majority cells over 8 true clusters: " +
      s"trained=$nTrained lowest-id=$nLowest")
    // 7/8: one pair of clusters shares a cell — the classic k-means
    // local optimum when two hash-seeds land in one (here: the 69-member
    // skewed) cluster. Deterministic, so asserted exactly; the point is
    // the strict separation advantage over the degenerate seeds.
    assert(nTrained >= 7, s"k-means should recover ~all 8 clusters, got $nTrained")
    assert(nTrained > nLowest,
      s"trained ($nTrained) should separate more clusters than lowest-id ($nLowest)")
  }

  test("connected components keep non-numeric id types; NULL ids fail fast") {
    import spark.implicits._
    // string/UUID doc ids are a reachable public path — the old
    // cast("long") silently NULLed them and dedup became a no-op
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    val bad = Seq((Option("a"), Option.empty[String])).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(bad, "id_a", "id_b")
    }
    assert(e.getMessage.contains("NULL ids"))
  }

  test("IVF-bucketed cosine pairs: exact precision, better recall than hyperplanes") {
    val corpus = clusteredEmb
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // maxPairsPerDoc = 0: the uncapped YARDSTICK form — the recall
    // denominator must be the complete pair set
    val exact = pairs(Similarity.cosinePairs(
      corpus, "vec_id", "embedding", tau = 0.9, bucketless = true,
      maxPairsPerDoc = 0))
    val ivf = pairs(Similarity.cosinePairsIvf(
      corpus, "vec_id", "embedding", tau = 0.9, nList = 8, iters = 3))
    val hyp = pairs(Similarity.cosinePairs(
      corpus, "vec_id", "embedding", tau = 0.9, nPlanes = 8, dim = 16,
      maxPairsPerDoc = 0))
    assert(exact.nonEmpty)
    assert(ivf.subsetOf(exact), "bucketing must never invent a pair")
    val (rIvf, rHyp) =
      (ivf.size.toDouble / exact.size, hyp.size.toDouble / exact.size)
    info(f"pair recall: ivf=$rIvf%.3f hyperplane=$rHyp%.3f (n=${exact.size})")
    assert(rIvf >= rHyp,
      f"data-derived cells should beat data-blind planes on clustered data: $rIvf%.3f < $rHyp%.3f")
  }

  test("real PNG codec: encode → imageio decode round-trips exactly") {
    // arbitrary-content image (gradient): the decoded sample sum must
    // equal the JVM-computed pixel sum — a real decoder property no
    // arithmetic stub could fake
    val (w, h) = (13, 7)
    def px(x: Int, y: Int): Int = {
      val v = (x * 7 + y * 13) % 256
      (v << 16) | (v << 8) | v
    }
    val bytes = Multimodal.ImageCodec.encodePngPixels(w, h, px)
    // PNG magic: a REAL container, not a fake payload
    assert(bytes.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val (dw, dh, bands, sum) = Multimodal.ImageCodec.decode(bytes)
    val expected = (for { y <- 0 until h; x <- 0 until w }
      yield 3L * ((x * 7 + y * 13) % 256)).sum
    assert((dw, dh, bands) == (w, h, 3))
    assert(sum == expected, s"decoded sample sum $sum != $expected")
  }

  test("real image decode + resize stages: distributed, exact, no shuffle") {
    val imgs = Multimodal.synthesizeImages(
      docs.filter(col("doc_id") < 30), "doc_id")
    val meta = Multimodal.decodeImages(imgs)
    val rows = meta.collect()
    assert(rows.length == 30)
    rows.foreach { m =>
      val (w, h, gray) =
        (4 + (m.doc_id % 13).toInt, 4 + (m.doc_id % 11).toInt, m.doc_id % 256)
      assert((m.width, m.height, m.channels) == ((w, h, 3)))
      assert(m.px_sum == w.toLong * h * 3 * gray)
    }
    assert(!meta.queryExecution.executedPlan.toString.contains("Exchange"),
      "image decode must not shuffle")

    val resized = Multimodal.resizeImages(imgs, 8, 8).collect()
    assert(resized.length == 30)
    resized.foreach { m =>
      assert((m.width, m.height, m.channels) == ((8, 8, 3)))
      // bilinear resample of a solid fill stays solid
      assert(m.px_sum == 8L * 8 * 3 * (m.doc_id % 256))
    }
  }

  test("image aHash: resolution-invariant on same content, solid hashes 0, " +
      "no shuffle") {
    import spark.implicits._
    def gray(v: Int) = (v << 16) | (v << 8) | v
    // same two-tone CONTENT (left 40, right 200) at three resolutions —
    // the perceptual hash must not care how big the file is
    val sizes = Seq((8, 6), (16, 12), (40, 24))
    val twoTone = sizes.zipWithIndex.map { case ((w, h), i) =>
      (i.toLong, Multimodal.ImageCodec.encodePngPixels(w, h,
        (x, _) => if (x < w / 2) gray(40) else gray(200)))
    }
    // solid: every sample equals the mean, strict > flags nothing
    val solid = Seq((99L, Multimodal.ImageCodec.encodePngPixels(10, 10,
      (_, _) => gray(128))))
    val df = (twoTone ++ solid).toDF("doc_id", "payload")
    val out = Multimodal.imageAHash(df)
    val rows = out.collect().map(r => r.doc_id -> ((r.ahash_hi, r.ahash_lo)))
      .toMap
    assert(rows(0L) == rows(1L) && rows(1L) == rows(2L),
      s"same content must hash identically across resolutions: $rows")
    // right half brighter than mean → bits x≥4 set in every row:
    // per-row byte 0xF0, repeated through both halves
    assert(rows(0L) == ((0xF0F0F0F0L, 0xF0F0F0F0L)), s"got ${rows(0L)}")
    assert(rows(99L) == ((0L, 0L)))
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "aHash must not shuffle")
  }

  test("audio fingerprint: loud windows set bits, silence 0, rate-invariant") {
    import spark.implicits._
    def wav(s: Array[Short], rate: Float) =
      Multimodal.AudioCodec.encodeWav(s, rate)
    // 160 frames = 16 windows of 10; windows 3 and 12 loud (10×1000
    // each), the rest quiet (10×10) → mean (2·10000+14·100)/16 = 1337,
    // only the loud windows clear it
    val loud = Array.tabulate(160)(i =>
      if (i / 10 == 3 || i / 10 == 12) 1000 else 10).map(_.toShort)
    val silent = Array.fill(80)(0.toShort)
    val df = Seq((1L, wav(loud, 8000f)), (2L, wav(loud, 16000f)),
      (3L, wav(silent, 8000f))).toDF("doc_id", "payload")
    val out = Multimodal.audioFingerprint(df)
    val rows = out.collect().map(r => r.doc_id -> r).toMap
    val fps = rows.view.mapValues(_.fp).toMap
    assert(fps(1L) == ((1L << 3) | (1L << 12)), s"got ${fps(1L).toBinaryString}")
    assert(fps(2L) == fps(1L), "sample rate must not change content bits")
    assert(fps(3L) == 0L)
    // 64-bit pairing key: bit 4w+k = E_w > E_{(w+δ_k)%16}, δ = 1,2,3,7.
    // Loud window 3 beats quiet neighbors 4,5,6,10 → lo bits 12..15;
    // loud window 12 beats 13,14,15 but TIES loud window (12+7)%16=3 →
    // hi bits 16..18 only. Quiet windows never set a bit.
    assert(rows(1L).fp_lo == 0xF000L,
      s"lo got ${rows(1L).fp_lo.toBinaryString}")
    assert(rows(1L).fp_hi == 0x70000L,
      s"hi got ${rows(1L).fp_hi.toBinaryString}")
    assert(rows(2L).fp_hi == rows(1L).fp_hi && rows(2L).fp_lo == rows(1L).fp_lo,
      "sample rate must not change the 64-bit key")
    assert(rows(3L).fp_hi == 0L && rows(3L).fp_lo == 0L,
      "silence must key to 0 on both halves")
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "fingerprint must not shuffle")
  }

  test("audio near-dup: members share both keys; 64-bit pairing key " +
    "matches the analytic energy-order bits; dedup survivors analytic") {
    import spark.implicits._
    val n = 64L
    val ids = (0L until n).toDF("doc_id")
    val fps = Multimodal.audioFingerprint(
      Multimodal.synthesizeNearDupAudio(ids, "doc_id")).toDF()
      .select("doc_id", "fp", "fp_hi", "fp_lo")
    val got = fps.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // analytic model: amplitude is strictly monotone in the planted
    // nibble, so fp64 bit 4w+k = nib_w > nib_{(w+δ_k)%16}, δ = 1,2,3,7,
    // and the family fp bit w replays the mean threshold nibble-only
    // (the member shift cancels exactly — see the oracle comment)
    val md = java.security.MessageDigest.getInstance("MD5")
    val deltas = Array(1, 2, 3, 7)
    def key64(nibs: IndexedSeq[Int]): (Long, Long) = {
      var hi = 0L; var lo = 0L
      for (w <- 0 until 16; k <- 0 until 4) {
        if (nibs(w) > nibs((w + deltas(k)) % 16)) {
          val j = 4 * w + k
          if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
        }
      }
      (hi, lo)
    }
    def fam16(nibs: IndexedSeq[Int]): Long = {
      val s = nibs.map(_.toLong).sum
      (0 until 16).map { w =>
        if (1000L * nibs(w) > (1000L * s) / 16) 1L << w else 0L
      }.sum
    }
    val pats = (0L until n).map { id =>
      val hex = md.digest(s"aud${id / 4}".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      id -> (0 until 16).map(w => Character.digit(hex.charAt(w), 16))
    }.toMap
    (0L until n).foreach { id =>
      val (hi, lo) = key64(pats(id))
      assert(got(id) == ((fam16(pats(id)), hi, lo)),
        s"doc $id: got ${got(id)}, want (${fam16(pats(id))}, $hi, $lo)")
    }
    // near-dup pairs = banded hamming ≤ 3 over the 64-bit key; replay
    // analytically (members land at hamming 0; no all-pairs in Spark)
    def ham(a: Long, b: Long, c: Long, d: Long): Int =
      java.lang.Long.bitCount(a ^ c) + java.lang.Long.bitCount(b ^ d)
    val keys = (0L until n).map(id => id -> key64(pats(id))).toMap
    val expectPairs = (for {
      ia <- 0L until n; ib <- ia + 1 until n
      h = ham(keys(ia)._1, keys(ia)._2, keys(ib)._1, keys(ib)._2)
      if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    val nd = graft.llm.Dedup.hammingPairs64(
      fps.select(col("doc_id"), col("fp_lo").as("lo"),
        col("fp_hi").as("hi")), hammingMax = 3)
    val gotPairs = nd.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.get(2).asInstanceOf[Number].longValue)).toSet
    assert(gotPairs == expectPairs,
      s"pair graph diverges: got ${gotPairs.size}, want ${expectPairs.size}")
    assert((0L until n by 4).forall(b =>
        gotPairs.exists(p => p._1 == b && p._2 == b + 1 && p._3 == 0L)),
      "family members must pair at hamming 0")
    // dedup: min per connected component survives; replay CC analytically
    val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    expectPairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb }
    val comp = (0L until n).groupBy(find)
    val losers = comp.values.flatMap(ms => ms.filterNot(_ == ms.min)).toSet
    // same shape as the declared mm_audio_dedup query, on this fixture
    val fpsCk = fps.select(col("doc_id"), col("fp"),
      col("fp_lo").as("lo"), col("fp_hi").as("hi")).localCheckpoint()
    val ccLosers = graft.llm.Dedup.connectedComponents(
        graft.llm.Dedup.hammingPairs64(
          fpsCk.select("doc_id", "lo", "hi"), hammingMax = 3),
        "id_a", "id_b")
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__graft_loser"))
    val dedup = fpsCk.join(broadcast(ccLosers),
        col("doc_id") === col("__graft_loser"), "left_anti")
      .select("doc_id", "fp", "lo", "hi")
    val kept = dedup.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until n).toSet -- losers,
      s"survivors diverge: kept ${kept.size}")
    val plan = dedup.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"dedup must broadcast the loser set into an anti join:\n" +
        plan.take(1500))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "banded pairing must stay an equi-join")
  }

  test("video near-dup: content-hash join equals the analytic pair set, " +
    "is contained in the identity-triple cross-check; equi-join only") {
    import spark.implicits._
    val n = 48L
    val ids = (0L until n).toDF("doc_id")
    val vids = Multimodal.synthesizeNearDupVideos(ids, "doc_id")
      .localCheckpoint()
    // THE declared key: md5 over the demuxed frame bytes (same plan
    // shape as the declared mm_video_near_dup query)
    val fr = Multimodal.demuxFrames(vids).toDF()
      .select(col("doc_id"), md5(col("frame_bytes")).as("frame_md5"))
      .distinct().localCheckpoint()
    val hp = fr.as("a").join(fr.as("b"),
        col("a.frame_md5") === col("b.frame_md5") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    val got = hp.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // analytic model: frame bytes equal iff generator key equal (the COM
    // digest), so the pair graph is exactly the family cliques — every
    // member pair shares the 3 'vf' keys, nothing else ever matches
    val expect = (for {
      ia <- 0L until n; ib <- ia + 1 until n if ia / 4 == ib / 4
    } yield (ia, ib, 3L)).toSet
    assert(got == expect)
    // KEPT CROSS-CHECK: the decoded identity triple (w, h, px_sum). A
    // hash-equal frame pair has identical bytes, hence identical decoded
    // rasters — hash pairs must be a SUBSET of triple pairs (the triple
    // may add bounded-space collisions; that's why it is not the key).
    val tr = Multimodal.decodeFrames(vids).toDF()
      .select(col("doc_id"), col("width"), col("height"), col("px_sum"))
      .distinct().localCheckpoint()
    val tp = tr.as("a").join(tr.as("b"),
        col("a.width") === col("b.width") &&
          col("a.height") === col("b.height") &&
          col("a.px_sum") === col("b.px_sum") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(p => (p._1, p._2)).subsetOf(tp),
      "a hash-equal frame pair must also be identity-equal")
    // the COM splice must not disturb the raster: decoded triples match
    // the fixture arithmetic for every frame
    val md = java.security.MessageDigest.getInstance("MD5")
    def ident(k: String) = {
      val hex = md.digest(k.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val g = Integer.parseInt(hex.substring(0, 2), 16)
      val w = 8 + Integer.parseInt(hex.substring(2, 4), 16) % 13
      val h = 8 + Integer.parseInt(hex.substring(4, 6), 16) % 11
      (w, h, w.toLong * h * 3 * g)
    }
    val trSets = Multimodal.decodeFrames(vids).collect()
      .groupBy(_.doc_id)
      .map { case (id, fs) =>
        id -> fs.map(f => (f.width, f.height, f.px_sum)).toSet }
    (0L until n).foreach { id =>
      val want = ((0 to 2).map(j => ident(s"vf${id / 4}_$j")) ++
        (0 to 1).map(j => ident(s"vu${id}_$j"))).toSet
      assert(trSets(id) == want, s"doc $id decoded triples diverge")
    }
    val plan = hp.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"content-hash join must stay an equi-join:\n${plan.take(1200)}")
  }

  test("canonical-PCM fast path decodes byte-identically to javax.sound") {
    // the fixtures are canonical 16-bit mono LE PCM, so they MUST take
    // the fast path, and its output must equal the full decoder's
    (0L until 40L).foreach { id =>
      val n = 100 + (id % 400).toInt
      val samples = Array.tabulate(n)(i => (((id + i) % 2000) - 1000).toShort)
      val wav = Multimodal.AudioCodec.encodeWav(samples,
        if (id % 2 == 0) 8000f else 16000f)
      assert(Multimodal.AudioCodec.parseCanonicalPcm(wav).isDefined,
        s"fixture $id must be canonical")
      assert(Multimodal.AudioCodec.decode(wav) ==
        Multimodal.AudioCodec.decodeViaAudioSystem(wav))
    }
    // a truncated container is non-canonical: the parser refuses and the
    // fallback raises instead of silently mis-summing
    val broken = Multimodal.AudioCodec
      .encodeWav(Array.tabulate(50)(_.toShort), 8000f).take(30)
    assert(Multimodal.AudioCodec.parseCanonicalPcm(broken).isEmpty)
    intercept[Exception] { Multimodal.AudioCodec.decode(broken) }
    // a hostile chunk length (0xFFFFFFFF — negative as Int) must refuse,
    // not loop or scan past the buffer
    val hostile = Multimodal.AudioCodec
      .encodeWav(Array.tabulate(50)(_.toShort), 8000f)
    (16 to 19).foreach(i => hostile(i) = 0xff.toByte) // fmt chunk length
    assert(Multimodal.AudioCodec.parseCanonicalPcm(hostile).isEmpty)
  }

  test("audio fingerprint: stereo payloads are rejected, not mis-windowed") {
    import spark.implicits._
    // real 2-channel WAV: interleaved L/R frames through the JDK encoder
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val frames = 40
    val bytes = new Array[Byte](frames * 4) // 2 ch × 2 bytes
    var i = 0
    while (i < frames) {
      val l = (i * 10).toShort; val r = (1000 - i * 10).toShort
      bytes(i * 4) = (l & 0xff).toByte; bytes(i * 4 + 1) = (l >> 8).toByte
      bytes(i * 4 + 2) = (r & 0xff).toByte; bytes(i * 4 + 3) = (r >> 8).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val df = Seq((1L, bos.toByteArray)).toDF("doc_id", "payload")
    val e = intercept[Exception] {
      Multimodal.audioFingerprint(df).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("mono PCM expected")), msgs(e).mkString("|"))
  }

  test("real MJPEG/AVI codec: demux + javax.imageio frame decode") {
    // container round-trip: a REAL RIFF/AVI structure, frames recovered
    // byte-for-byte in order
    val f0 = Multimodal.ImageCodec.encodeJpeg(9, 10, 0x303030)
    val f1 = Multimodal.ImageCodec.encodeJpeg(9, 10, 0xc1c1c1)
    val avi = Multimodal.AviMjpeg.encode(Seq(f0, f1))
    assert(new String(avi.take(4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    val back = Multimodal.AviMjpeg.frames(avi)
    assert(back.length == 2)
    assert(back(0).sameElements(f0) && back(1).sameElements(f1))
    // JPEG magic on the demuxed frames: real payloads, not slices
    assert(back.forall(f => (f(0) & 0xff) == 0xff && (f(1) & 0xff) == 0xd8))
    // pixel decode of a demuxed frame is exact for solid fills at q=1.0
    assert(Multimodal.ImageCodec.decode(back(0)) ==
      ((9, 10, 3, 9L * 10 * 3 * 0x30)))
    // malformed containers fail loudly, never decode garbage
    intercept[IllegalArgumentException] {
      Multimodal.AviMjpeg.frames("JUNKJUNKJUNKJUNK".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.AviMjpeg.frames(avi.dropRight(3)) // truncated chunk
    }
  }

  test("real video frame decode stage: distributed, exact, no shuffle") {
    val frames = Multimodal.decodeFrames(
      Multimodal.synthesizeMjpegVideos(docs.filter(col("doc_id") < 30), "doc_id"))
    val rows = frames.collect()
    assert(rows.length == (0 until 30).map(id => 2 + id % 3).sum)
    rows.foreach { f =>
      val (w, h) = (8 + (f.doc_id % 5).toInt, 8 + (f.doc_id % 7).toInt)
      val gray = (f.doc_id * 7 + f.frame_idx * 31) % 256
      assert((f.width, f.height, f.channels) == ((w, h, 3)))
      assert(f.px_sum == w.toLong * h * 3 * gray,
        s"doc ${f.doc_id} frame ${f.frame_idx}: ${f.px_sum}")
    }
    assert(!frames.queryExecution.executedPlan.toString.contains("Exchange"),
      "frame decode must not shuffle")
  }

  test("real WAV codec: encode → javax.sound decode round-trips exactly") {
    val samples = Array.tabulate(250)(i => ((i * 37) % 2000 - 1000).toShort)
    val bytes = Multimodal.AudioCodec.encodeWav(samples, 16000f)
    // RIFF magic: a REAL container
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    val (rate, ch, frames, sum) = Multimodal.AudioCodec.decode(bytes)
    assert((rate, ch, frames) == ((16000, 1, 250L)))
    assert(sum == samples.map(_.toLong).sum)
  }

  test("real audio decode stage: distributed, exact, no shuffle") {
    val meta = Multimodal.decodeAudio(
      Multimodal.synthesizeAudio(docs.filter(col("doc_id") < 30), "doc_id"))
    val rows = meta.collect()
    assert(rows.length == 30)
    rows.foreach { m =>
      val n = 100 + (m.doc_id % 400)
      assert(m.n_frames == n && m.channels == 1)
      assert(m.sample_rate == (if (m.doc_id % 2 == 0) 8000 else 16000))
      assert(m.sample_sum ==
        (0L until n).map(i => (m.doc_id + i) % 2000 - 1000).sum)
    }
    assert(!meta.queryExecution.executedPlan.toString.contains("Exchange"),
      "audio decode must not shuffle")
  }

  test("fixed-point mean pooling: partition-invariant, unit-norm output") {
    val emb = graft.Tables.read(spark, sf("sf0.001"), "embeddings")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.meanPoolFixed(df, col("vec_id") % 7, "embedding")
        .collect().map(_.toString).sorted.toSeq
    // integer sums: bit-identical pooled vectors on any partitioning
    assert(run(emb) == run(emb.repartition(13)))
    // each group's unit vector has L2 norm 1 (within per-element 6dp
    // rounding), and group sizes account for every vector
    val rows = Similarity.meanPoolFixed(emb, col("vec_id") % 7, "embedding")
      .collect()
    val byG = rows.groupBy(_.getLong(0))
    byG.values.foreach { g =>
      val norm = math.sqrt(g.map(r => math.pow(r.getDouble(5), 2)).sum)
      assert(math.abs(norm - 1.0) < 1e-3, s"unit norm $norm")
    }
    assert(byG.values.map(_.head.getLong(2)).sum == emb.count())
    // a zero pooled vector has no direction: unit is NULL, not NaN
    import spark.implicits._
    val zeros = Seq((1L, Seq(0f, 0f)), (2L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
    val z = Similarity.meanPoolFixed(zeros, lit(0L), "embedding").collect()
    assert(z.forall(_.isNullAt(5)))
    // sum-of-squares past Long range fails LOUDLY even when a raw long
    // wrap would land positive (ADVICE r7: decimal accumulation, not a
    // sign check): qv = 3e18 ⇒ sq² ≈ 9e36 ≫ 2^63
    val huge = Seq((1L, Seq(3e14f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.meanPoolFixed(huge, lit(0L), "embedding").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("overflowed long")))
  }

  test("duplicated spans: copies saturate, quotes score partially, " +
    "unique docs score zero") {
    import spark.implicits._
    val a = (1 to 30).map(i => s"alpha$i").mkString(" ") // 30 words
    val b = (1 to 30).map(i => s"beta$i").mkString(" ")
    val quote = (1 to 30).map(i => s"alpha$i").take(12).mkString(" ")
    val df = Seq(
      (1L, a), (2L, a),                        // exact copies
      (3L, s"$quote then ${(1 to 20).map(i => s"gamma$i").mkString(" ")}"),
      (4L, b)                                  // unique
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // copies: every window shared with the twin
    assert(got(1L)._3 == 1.0 && got(2L)._3 == 1.0)
    // doc 3 quotes 12 words of doc 1 → exactly 12-8+1 = 5 shared
    // windows out of its 33-8+1 = 26
    assert(got(3L)._1 == 26L && got(3L)._2 == 5L)
    // unique doc: no window appears elsewhere
    assert(got(4L) == ((23L, 0L, 0.0)))
    // within-doc repetition alone is NOT cross-doc duplication
    val rep = Seq((9L, (("x y z w " * 10).trim))).toDF("doc_id", "text")
    val r9 = Dedup.duplicatedSpans(rep, "doc_id", "text", n = 8).head()
    assert(r9.getLong(2) == 0L)
  }

  test("decontamination drops benchmark members, keeps zero-overlap docs") {
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val clean = Dedup.decontaminate(docs, bench, "doc_id", "text")
    val cleanIds = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(benchIds.intersect(cleanIds).isEmpty,
      "benchmark members score 1.0 and must be dropped")
    assert(cleanIds.size < docs.count(), "something must be dropped")
    val scores = Dedup.contaminationScores(docs, bench, "doc_id", "text")
    val zeros = scores.filter(col("contamination") === 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(zeros.nonEmpty && zeros.subsetOf(cleanIds),
      "docs sharing no shingles with the benchmark must survive")
  }

  test("MP4 box parser: valid walk, loud failure on malformed structure") {
    val bytes = Multimodal.Mp4Box.encode(Array.tabulate(100)(_.toByte))
    val (types, mdat) = Multimodal.Mp4Box.parse(bytes)
    assert(types == Seq("ftyp", "mdat") && mdat == 100)
    // a truncated container must throw, not return garbage
    intercept[IllegalArgumentException] {
      Multimodal.Mp4Box.parse(bytes.take(bytes.length - 10))
    }
    val meta = Multimodal.parseVideoContainers(
      Multimodal.synthesizeVideo(docs.filter(col("doc_id") < 20), "doc_id"))
    val rows = meta.collect()
    assert(rows.length == 20)
    rows.foreach { m =>
      assert(m.box_types == "ftyp,mdat")
      assert(m.mdat_bytes == 32 + m.doc_id % 991)
    }
    assert(!meta.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("MP4 sample table: encode→demux round-trips every sample; " +
    "chunk-run walk exact; lying tables fail loudly") {
    // byte-exact round trip at sizes that exercise the stsc run logic:
    // 1 sample (single run), 2 (exactly the first chunk), 3..9 (2-then-3
    // layout with partial last chunks), 11 (three full later chunks)
    for (n <- Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 11)) {
      val samples = (0 until n).map(i =>
        Array.tabulate(10 + 7 * i)(j => ((i * 31 + j) % 251).toByte))
      val mp4 = Multimodal.Mp4Box.encodeWithSampleTable(samples)
      val back = Multimodal.Mp4Box.samples(mp4)
      assert(back.length == n, s"n=$n: got ${back.length} samples")
      (0 until n).foreach(i => assert(back(i).sameElements(samples(i)),
        s"n=$n: sample $i bytes diverge"))
    }
    // structural realism: the container still walks as top-level boxes
    val mp4 = Multimodal.Mp4Box.encodeWithSampleTable(
      Seq(Array[Byte](1, 2, 3), Array[Byte](4, 5)))
    val (types, mdat) = Multimodal.Mp4Box.parse(mp4)
    assert(types == Seq("ftyp", "mdat", "moov") && mdat == 5)
    // malformed tables must throw, never return garbage bytes:
    // (a) truncated file (stbl gone), (b) a corrupted stco offset that
    // points past the file
    intercept[IllegalArgumentException] {
      Multimodal.Mp4Box.samples(mp4.take(40))
    }
    val corrupt = mp4.clone()
    // stco is the LAST leaf the encoder writes: corrupt its final u32
    // (the last chunk offset) to an absurd value
    corrupt(corrupt.length - 1) = 0x7f.toByte
    corrupt(corrupt.length - 2) = 0x7f.toByte
    corrupt(corrupt.length - 3) = 0x7f.toByte
    corrupt(corrupt.length - 4) = 0x7f.toByte
    intercept[IllegalArgumentException] {
      Multimodal.Mp4Box.samples(corrupt)
    }
  }

  test("MP4 shared-sample near-dup: pair graph equals the analytic " +
    "family cliques; equi-join only") {
    import spark.implicits._
    val n = 48L
    val ids = (0L until n).toDF("doc_id")
    val sm = Multimodal.demuxMp4Samples(
      Multimodal.synthesizeNearDupMp4(ids, "doc_id")).toDF()
      .select(col("doc_id"), md5(col("frame_bytes")).as("sample_md5"))
      .distinct().localCheckpoint()
    val hp = sm.as("a").join(sm.as("b"),
        col("a.sample_md5") === col("b.sample_md5") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    val got = hp.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // family members share exactly the 3 'vs' samples; unique 'vu'
    // samples never collide (distinct key strings → distinct bytes)
    val expect = (for {
      ia <- 0L until n; ib <- ia + 1 until n if ia / 4 == ib / 4
    } yield (ia, ib, 3L)).toSet
    assert(got == expect)
    val plan = hp.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"sample-hash join must stay an equi-join:\n${plan.take(1200)}")
  }

  test("stub decoder emits deterministic typed metadata, no shuffle") {
    // filter (not limit): limit injects a SinglePartition exchange of its
    // own, which would mask the property under test
    val meta = Multimodal.decode(
      Multimodal.asBinary(docs.filter(col("doc_id") < 10),
        "doc_id", "text", "text/plain"))
    val rows = meta.collect()
    assert(rows.length == 10)
    rows.foreach { m =>
      assert(m.width == (64 + m.n_bytes % 577).toInt)
      assert(m.sha256.length == 64)
      assert(m.channels == 3)
    }
    // plan has no exchange: decode is partition-local
    val plan = meta.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode should not shuffle:\n$plan")
  }
}
