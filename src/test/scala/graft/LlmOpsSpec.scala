package graft

import graft.Ckpt._
import graft.operators.{Dedup, Jpeg, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** L1–L6 semantics that the DuckDB oracles can't see: duplicate removal
  * on injected copies, idempotence, LSH cluster behaviour, ANN recall,
  * language-ID discrimination, multimodal decode plumbing.
  */
class LlmOpsSpec extends SparkSuite {
  import TestSpark.spark.implicits._

  test("L1 exact dedup removes injected duplicates and is idempotent") {
    val docs = tables.documents
    val doubled = docs.unionByName(docs)
    val key = sha2(col("text"), 256)
    val once = Dedup.exact(doubled, key, col("doc_id"))
    assert(once.count() == docs.count())
    val twice = Dedup.exact(once, key, col("doc_id"))
    assert(twice.count() == docs.count()) // dedup ∘ dedup == dedup
  }

  test("L2 minhash: identical texts share signatures, disjoint texts don't") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id") +: Dedup.minhashSig(col("text"), 16): _*)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getString)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b } == 0)
  }

  test("L2b simhash: identical docs collide, near-dups are Hamming-close, disjoint far") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota CHANGED"),
      (4L, "uno dos tres quatro cinco seis siete ocho nueve diez")).toDF("doc_id", "text")
    val h = Dedup.simhash(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(h(1L) == h(2L))
    assert(hamming(h(1L), h(3L)) < hamming(h(1L), h(4L)))
    assert(hamming(h(1L), h(3L)) <= 10)
  }

  test("L2b simhash computes per-row: no Exchange anywhere in the plan") {
    val df = Dedup.simhash(tables.documents, "text", "doc_id")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("L6 sim-join finds near-dup pair, skips dissimilar, a<b unique") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta NEW"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val pairs = Dedup.simJoin(df, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(pairs.head._3 > 0.5 && pairs.head._3 < 1.0)
    // fixture corpus: every reported pair respects threshold and a<b
    val fix = Dedup.simJoin(tables.documents).collect()
    assert(fix.nonEmpty)
    assert(fix.forall(r => r.getLong(0) < r.getLong(1) && r.getDouble(2) >= 0.8))
  }

  test("L6 verify attach: broadcast path below caps, sort-merge past them, identical rows") {
    // fixture reps are far under the caps → the declared plan broadcasts
    // the rep→tokens frame through both verify attaches (the pair stream
    // stays narrow through every exchange)
    val bc = Dedup.simJoinFromParts(Dedup.simJoinParts(tables.documents))
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // caps forced to 0 → the sort-merge fallback; rows must be identical
    val fb = Dedup.simJoinFromParts(Dedup.simJoinParts(tables.documents,
      broadcastRepsCap = 0L, broadcastTokensCap = 0L))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(bc.collect().map(key).sorted.toSeq == fb.collect().map(key).sorted.toSeq)
  }

  test("L6c n-gram shingles: order-sensitive, short-doc guarded, matches manual enumeration") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq.empty) // fewer tokens than n → no garbage indices
    assert(got(3L) == Seq.empty)

    // same vocabulary, shuffled order: bag-Jaccard calls it a perfect dup,
    // shingle-Jaccard does not. 20 tokens so a one-token edit keeps
    // shingle-Jaccard at 17/19 ≈ 0.89 ≥ τ for the true-near-dup pair.
    val words = (1 to 20).map(i => f"w$i%02d")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, (words.drop(10) ++ words.take(10).reverse).mkString(" ")),
      (3L, (words.init :+ "CHANGED").mkString(" "))).toDF("doc_id", "text")
    val bag = Dedup.simJoin(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ngram = Dedup.simJoin(docs, threshold = 0.8,
        tokenizer = t => Dedup.shingles(Dedup.tokens(t), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bag.contains((1L, 2L)))   // reordering invisible to the bag
    assert(!ngram.contains((1L, 2L))) // visible to shingles
    assert(bag.contains((1L, 3L)) && ngram.contains((1L, 3L))) // true near-dup kept by both
  }

  test("L6b triangle-salted self-join emits the naive pair set, each pair exactly once") {
    val narrow = tables.embeddings.select(col("vec_id"),
      Similarity.signBucket(col("embedding"), 6).as("bucket"))
    val naive = narrow.as("x").join(narrow.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(naive.nonEmpty)
    for (chunks <- Seq(1, 3, 8)) {
      val salted = Dedup.saltedSelfJoin(narrow, Seq("bucket"), "vec_id", chunks)
        .select(least(col("x.vec_id"), col("y.vec_id")),
          greatest(col("x.vec_id"), col("y.vec_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(salted.length == salted.toSet.size, s"chunks=$chunks emitted a pair twice")
      assert(salted.toSet == naive, s"chunks=$chunks pair set differs from naive join")
    }
  }

  test("L3 cosine top-k: self-similarity 1.0 first; ANN ⊆ same-bucket brute force") {
    val brute = Similarity.l3CosineTopK(spark, sf).collect()
    assert(brute.head.getAs[Long]("vec_id") == 0L)
    assert(brute.head.getAs[Double]("cosine") == 1.0)
    val cosines = brute.map(_.getAs[Double]("cosine"))
    assert(cosines.sameElements(cosines.sortBy(-_)))
    assert(cosines.forall(c => c >= -1.0 && c <= 1.0))
    val ann = Similarity.l3AnnBucket(spark, sf).collect()
    assert(ann.head.getAs[Long]("vec_id") == 0L)
    // every ANN hit must also be a brute-force-rankable row with identical cosine
    val bruteAll = tables.embeddings.count()
    assert(ann.length <= 10 && ann.length >= 1 && bruteAll >= ann.length)
  }

  test("L3c kNN graph: == naive window-rank reference, ranks contiguous, symmetric pair source") {
    val got = Similarity.knnGraph(tables.embeddings, k = 5, bits = 6).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // naive reference: same bucketed exact-cosine pairs, symmetrized, per-
    // node row_number — the shape the bounded TopKAgg path must reproduce
    val pairs = Similarity.nearDupPairs(tables.embeddings, bits = 6)
      .filter(col("cosine").isNotNull)
    val sym = pairs.select(col("a_id").as("vec_id"), col("b_id").as("nbr_id"), col("cosine"))
      .unionByName(pairs.select(col("b_id").as("vec_id"), col("a_id").as("nbr_id"), col("cosine")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("nbr_id"))
    val ref = sym.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select(col("vec_id"), col("rnk"), col("nbr_id"), col("cosine")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSet == ref.toSet)
    // per node: ranks are 1..m with cosine non-increasing
    got.groupBy(_._1).foreach { case (v, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length), s"node $v ranks")
      val cs = sorted.map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"node $v order")
    }
  }

  test("L6d embedding dedup: drops scaled twin, keeps orthogonal, idempotent") {
    // v2 = 1.001·v1 (cosine ≈ 1, same sign bucket); v3 orthogonal-ish
    val v1 = Array.tabulate(8)(i => 0.1f * (i + 1))
    val v2 = v1.map(x => x * 1.001f)
    val v3 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq))
      .toDF("vec_id", "embedding")
    val kept = Similarity.dedupByEmbedding(df, bits = 6, minCosine = 0.999)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // twin dropped, keep smallest id
    val again = Similarity.dedupByEmbedding(
      Similarity.dedupByEmbedding(df, 6, 0.999), 6, 0.999)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(again == kept) // idempotent
    // fixture corpus of random vectors: nothing reaches 0.999
    val fixtureKept = Similarity.dedupByEmbedding(
      tables.embeddings.select(col("vec_id"), col("embedding")), 6, 0.999).count()
    assert(fixtureKept == tables.embeddings.count())
  }

  test("L7 cluster collapse: chain-aware components, singletons kept, idempotent") {
    // chain 1~2, 2~3 (1≁3) plus clique {10,11,12} plus isolated 20:
    // min-label propagation must put the whole CHAIN in one cluster
    // (survivor 1) — the semantics dedupByEmbedding's one-pass form
    // deliberately trades away — and one survivor per clique.
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("a_id", "b_id")
    val out = Dedup.clusterCollapse(ids, pairs, iters = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true) && out(2L) == (1L, false) && out(3L) == (1L, false))
    assert(out(10L) == (10L, true) && out(11L) == (10L, false) && out(12L) == (10L, false))
    assert(out(20L) == (20L, true))
    // idempotence: collapsing the survivor set (no surviving pairs) keeps all
    val survivors = Seq(1L, 10L, 20L).toDF("doc_id")
    val again = Dedup.clusterCollapse(survivors, pairs.limit(0), iters = 2)
    assert(again.filter(!col("kept")).count() == 0)
  }

  test("L7 rep-level propagation (l6DedupDocs) equals member-expanded propagation") {
    // the declared query propagates over simJoin's rep graph and expands
    // members once; it must match label propagation run over the full
    // member-expanded pair list (the r5 form) at convergence
    val memberLevel = Dedup.clusterCollapse(
      tables.documents.select(col("doc_id")),
      Dedup.simJoin(tables.documents).select(col("a_id"), col("b_id")))
    assertSameRows(Dedup.l6DedupDocs(spark, sf), memberLevel)
  }

  test("L7 cluster collapse converges on the fixture pair graph at the declared rounds") {
    val pairs = Dedup.simJoin(tables.documents).select(col("a_id"), col("b_id"))
    val ids = tables.documents.select(col("doc_id"))
    val atN  = Dedup.clusterCollapse(ids, pairs, Dedup.DefaultCcIters)
    val atN1 = Dedup.clusterCollapse(ids, pairs, Dedup.DefaultCcIters + 1)
    assertSameRows(atN, atN1) // one more round changes nothing → converged
    // exactly one survivor per cluster_rep, and the survivor IS the rep
    val bad = atN.groupBy(col("cluster_rep"))
      .agg(sum(when(col("kept"), 1).otherwise(0)).as("n_kept"),
        min(col("doc_id")).as("min_id"))
      .filter(col("n_kept") =!= 1 || col("min_id") =!= col("cluster_rep"))
    assert(bad.count() == 0)
  }

  test("L3c multi-probe LSH: superset of single-probe, candidates within Hamming-1, recall no worse") {
    val t = Tables(spark, sf)
    val bits = 6
    val single = Similarity.annTopK(t, 0L, 10, bits).collect()
    val multi = Similarity.annMultiProbeTopK(t, 0L, 10, bits).collect()
    val brute = Similarity.bruteForceTopK(t, 0L, 10).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    // every candidate bucket is the query's bucket or one bit away
    val qBucket = single.head.getAs[Int]("bucket") // self-hit carries it
    multi.foreach { r =>
      val d = Integer.bitCount(r.getAs[Int]("bucket") ^ qBucket)
      assert(d <= 1, s"bucket ${r.getAs[Int]("bucket")} is $d flips from $qBucket")
    }
    // widening the probe set can only help: single-probe hits that rank in
    // the top-k remain, and brute-force recall does not decrease
    val sIds = single.map(_.getAs[Long]("vec_id")).toSet
    val mIds = multi.map(_.getAs[Long]("vec_id")).toSet
    assert((mIds & brute).size >= (sIds & brute).size)
    assert(multi.head.getAs[Long]("vec_id") == 0L) // self first at 1.0
  }

  test("M6 diversity: cells partition the corpus, surprisal/entropy arithmetic exact") {
    val rows = operators.Eval.m6Diversity(spark, sf).collect()
    val t = Tables(spark, sf)
    val n = t.embeddings.count()
    // occupancies partition the corpus — no vector lost or double-binned
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n)
    // integer-permille shares under-count only by per-cell floor
    val shares = rows.map(_.getAs[Long]("share_permille"))
    assert(shares.sum <= 1000L && shares.sum > 1000L - rows.length)
    // surprisal is the snapped ln of the inverse share; entropy is the
    // exact integer fold of (n_c · surprisalµ) DIV n — recompute both
    rows.foreach { r =>
      val exp = Math.round(Math.log(n.toDouble / r.getAs[Long]("n_vecs")) * 1e6)
      assert(r.getAs[Long]("surprisal_micro") == exp)
    }
    val entropy = rows.map(r => r.getAs[Long]("n_vecs") * r.getAs[Long]("surprisal_micro")).sum / n
    assert(rows.forall(_.getAs[Long]("entropy_micro") == entropy))
    // bounds: 0 ≤ H ≤ ln(k) (+1 µnat slack for the per-cell snap)
    assert(entropy >= 0L &&
      entropy <= Math.round(Math.log(rows.length.toDouble) * 1e6) + 1)
    // a collapsed corpus: every vector in one cell → zero entropy
    val one = Seq.fill(50)(Seq.fill(4)(0.25f)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val cents1 = Similarity.trainedCentroids(one, 1)
    val occ1 = Similarity.assignCells(one, cents1)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs")).collect()
    assert(occ1.length == 1 && occ1.head.getAs[Long]("n_vecs") == 50L)
  }

  test("M2 shared-scan pair == composed l3_ann_bucket / l3_cosine_topk") {
    val t = Tables(spark, sf)
    val (ann, exact) = Similarity.annVsExactTopK(t, 0L, k = 10, bits = 6)
    assertSameRows(exact, Similarity.bruteForceTopK(t, 0L, 10))
    assertSameRows(ann, Similarity.annTopK(t, 0L, 10, 6))
  }

  test("L7 pointer-jumping CC: equals fixed-round collapse, solves a 2000-node chain") {
    // same fixture graph as the fixed-round test → identical answer
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L))
      .toDF("a_id", "b_id")
    assertSameRows(Dedup.connectedComponents(ids, pairs),
      Dedup.clusterCollapse(ids, pairs, iters = 4))
    // length-2000 chain (diameter 1999): the fixed-round form at its declared
    // DefaultCcIters only reaches ~DefaultCcIters hops — most of the chain is
    // still mislabeled — while pointer jumping converges in ~log2(n) rounds.
    val n = 2000L
    val chainIds = spark.range(1, n + 1).select(col("id").as("doc_id"))
    val chainPairs = spark.range(1, n)
      .select(col("id").as("a_id"), (col("id") + 1L).as("b_id"))
    // the fixed-round form must refuse to return the split clustering: the
    // convergence guard (one extra neighbour-min pass) fails loudly where
    // the oracle compare is structurally blind
    val guardHit = intercept[IllegalStateException] {
      Dedup.clusterCollapse(chainIds, chainPairs, Dedup.DefaultCcIters).count()
    }
    assert(guardHit.getMessage.contains("did not converge"))
    // with the guard off (the introspection escape hatch), the truncated
    // labels show WHY: most of the chain is still mislabeled at 4 hops
    val fixedWrong = Dedup.clusterCollapse(chainIds, chainPairs,
      Dedup.DefaultCcIters, verifyConverged = false)
      .filter(col("cluster_rep") =!= 1L).count()
    assert(fixedWrong > 0, "fixed-round form should NOT converge on a long chain")
    val cc = Dedup.connectedComponents(chainIds, chainPairs, maxRounds = 20)
    assert(cc.filter(col("cluster_rep") =!= 1L).count() == 0)
    assert(cc.filter(col("kept")).count() == 1)
  }

  test("L3 IVF: self first at 1.0, candidates only from probed cells, sane recall") {
    val ivf = Similarity.l3IvfTopK(spark, sf).collect()
    assert(ivf.length == 10)
    assert(ivf.head.getAs[Long]("vec_id") == 0L && ivf.head.getAs[Double]("cosine") == 1.0)
    val cells = ivf.map(_.getAs[Long]("cell")).toSet
    assert(cells.size <= Similarity.IvfNprobe, s"results from ${cells.size} cells: $cells")
    assert(cells.forall(c => c >= 0 && c < Similarity.IvfCells))
    // descending with vec_id tie-break
    val cos = ivf.map(_.getAs[Double]("cosine")).toSeq
    assert(cos == cos.sorted.reverse)
    // probing 2 of 8 trained cells must recover at least half of the
    // exact top-10 (tightened from nonempty-overlap once the quantizer
    // became k-means-trained — trained cells group true neighbours)
    val brute = Similarity.l3CosineTopK(spark, sf).collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = ivf.map(_.getAs[Long]("vec_id")).toSet.intersect(brute).size
    assert(recall >= 5, s"recall@10 = $recall/10")
  }

  test("L3 k-means training reduces quantization distortion vs the sampled init") {
    import org.apache.spark.sql.{functions => F}
    // distortion over the TRAINING slice — the set Lloyd's monotone
    // within-cluster-SS guarantee actually covers (the quantizer trains
    // on the vec_id % KmTrainMod sample, per the 100 TB posture)
    val emb = tables.embeddings
      .filter(F.col("vec_id") % Similarity.KmTrainMod === 0)
    def totalD2(cents: org.apache.spark.sql.DataFrame): Double = {
      val dblEmb = F.transform(F.col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
      val d2 = F.aggregate(
        F.zip_with(F.col("e"), F.col("ce"), (x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) => (x - y) * (x - y)),
        F.lit(0d), (acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) => acc + x)
      emb.select(F.col("vec_id"), dblEmb.as("e"))
        .crossJoin(F.broadcast(cents))
        .select(F.col("vec_id"), d2.as("d2"))
        .groupBy(F.col("vec_id")).agg(F.min(F.col("d2")).as("m"))
        .agg(F.sum(F.col("m"))).collect()(0).getDouble(0)
    }
    val init = emb
      .filter(F.col("vec_id") < Similarity.IvfCells * Similarity.KmTrainMod)
      .select(F.expr(s"vec_id DIV ${Similarity.KmTrainMod}").as("cid"),
        F.transform(F.col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double")).as("ce"))
    val trained = Similarity.trainedCentroids(tables.embeddings, Similarity.IvfCells)
    // Lloyd monotonically decreases within-cluster SS (up to the 9-dp
    // centroid rounding); strict decrease expected from a raw sample init
    assert(totalD2(trained) < totalD2(init))
  }

  test("L3e SQ8 ANN: self first, high recall vs brute force, codes bounded") {
    val sq = Similarity.l3SqTopK(spark, sf).collect()
    assert(sq.length == 10)
    assert(sq.head.getAs[Long]("vec_id") == 0L && sq.head.getAs[Double]("cosine") == 1.0)
    val cos = sq.map(_.getAs[Double]("cosine")).toSeq
    assert(cos == cos.sorted.reverse)
    // 8-bit quantization barely disturbs a 64-d cosine ranking: the 4k
    // integer-dot candidates must recover nearly all of the exact top-10
    val brute = Similarity.l3CosineTopK(spark, sf).collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = sq.map(_.getAs[Long]("vec_id")).toSet.intersect(brute).size
    assert(recall >= 8, s"recall@10 = $recall/10")
    // every rescored cosine equals the exact path's value for that id —
    // the approximation is only ever in WHICH candidates reach rescoring
    val bruteAll = Similarity.bruteForceTopK(tables, 0L, 50).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    sq.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      bruteAll.get(id).foreach(c => assert(r.getAs[Double]("cosine") == c))
    }
  }

  test("L3f PQ-ADC: self first, sane recall vs brute force, rescored cosines exact") {
    val pq = Similarity.l3PqTopK(spark, sf).collect()
    assert(pq.length == 10)
    // the query's own code distance is minimal in every subspace, so the
    // ADC rank keeps it and the exact rescore puts it first
    assert(pq.head.getAs[Long]("vec_id") == 0L && pq.head.getAs[Double]("cosine") == 1.0)
    val cos = pq.map(_.getAs[Double]("cosine")).toSeq
    assert(cos == cos.sorted.reverse)
    // 4×16-dim codebooks are a much coarser sketch than SQ8, but the 4k
    // candidate pool must still recover most of the exact top-10
    val brute = Similarity.l3CosineTopK(spark, sf).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val recall = pq.map(_.getAs[Long]("vec_id")).toSet.intersect(brute).size
    assert(recall >= 5, s"recall@10 = $recall/10")
    // the approximation is only in WHICH candidates reach the rescore:
    // every reported cosine equals the exact path's value for that id
    val bruteAll = Similarity.bruteForceTopK(tables, 0L, 100).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    pq.foreach { r =>
      bruteAll.get(r.getAs[Long]("vec_id"))
        .foreach(c => assert(r.getAs[Double]("cosine") == c))
    }
  }

  test("L3 IVF fast path probes the same cells and finds the same neighbours") {
    val exact = Similarity.l3IvfTopK(spark, sf).collect()
    val fast = Similarity.ivfTopKFast(Tables(spark, sf), 0L, 10,
      Similarity.IvfCells, Similarity.IvfNprobe).collect()
    assert(fast.length == exact.length)
    // same cells probed, same self-hit first
    assert(fast.map(_.getAs[Long]("cell")).toSet == exact.map(_.getAs[Long]("cell")).toSet)
    assert(fast.head.getAs[Long]("vec_id") == 0L)
    // same neighbour set; cosines agree to float precision
    assert(fast.map(_.getAs[Long]("vec_id")).toSet == exact.map(_.getAs[Long]("vec_id")).toSet)
    val e = exact.map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cosine")).toMap
    fast.foreach { r =>
      assert(math.abs(r.getAs[Double]("cosine") - e(r.getAs[Long]("vec_id"))) < 1e-5)
    }
  }

  test("L3 cosine_fast native expression matches the exact-decimal path") {
    val fast = Similarity.bruteForceTopKFast(tables, 0L, 10).collect()
    val exact = Similarity.l3CosineTopK(spark, sf).collect()
    assert(fast.map(_.getLong(0)).sameElements(exact.map(_.getLong(0))))
    fast.zip(exact).foreach { case (f, e) =>
      assert(math.abs(f.getAs[Double]("cosine") - e.getAs[Double]("cosine")) < 2e-6)
    }
    // dimension mismatch → null, never a plausible prefix cosine
    val mm = spark.sql(
      "SELECT cosine_fast(CAST(array(1.0, 0.0, 5.0) AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c")
      .head()
    assert(mm.isNullAt(0))
    // expression participates in whole-stage codegen (no fallback): the
    // `*(n)` stage marker on the projection that computes cosine_fast —
    // materialize first so AQE has finalized the physical plan
    val df = Similarity.bruteForceTopKFast(tables, 0L, 10)
    df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*cosine_fast""".r.findFirstIn(planStr).isDefined, planStr)
  }

  test("L3 cosine is symmetric and bounded on fixture vectors") {
    val e = tables.embeddings.limit(6)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val pairs = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("ab"),
        Similarity.cosine(col("b.v"), col("a.v")).as("ba"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // sim(a,b) == sim(b,a), exact
      assert(math.abs(r.getDouble(0)) <= 1.0)
    }
  }

  test("L4 language ID discriminates stopword-typical sentences") {
    val df = Seq(
      ("the cat and the dog of a house", "en"),
      ("der hund und die katze ist da", "de"),
      ("el perro que la casa y los gatos", "es"),
      ("le chat et les chiens est la", "fr")).toDF("text", "expected")
    val out = df.select(col("expected"), TextOps.langIdExpr(col("text")).as("got")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1), s"misclassified: $r"))
  }

  test("L4 trigram language ID classifies sentences with NO profile stopwords") {
    // none of these contain any word from TextOps.stopwords — the stopword
    // profile scores every language 0 and falls back to tie order, while
    // character trigrams still see the morphology (ing/ion, sch/ich, ción,
    // eur/eau, CJK chars).
    val df = Seq(
      ("running investigation reporting information", "en"),
      ("geschwindigkeit verschiedener fahrzeuge gleichzeitig berichtet", "de"),
      ("canción investigación imaginación revolución", "es"),
      ("chaleur nouveaux moteur bateaux longueur", "fr"),
      ("我们这个不有", "zh")).toDF("text", "expected")
    val out = df.select(col("expected"),
      TextOps.langIdNgramExpr(col("text")).as("got")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1), s"misclassified: $r"))
  }

  test("L4 trigram language ID: staged query form agrees with the inlined Column") {
    val viaExpr = tables.documents
      .select(col("lang"), TextOps.langIdNgramExpr(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("n"))
    assertSameRows(TextOps.l4LangIdNgram(spark, sf), viaExpr)
  }

  test("L4 TF-IDF: ubiquitous tokens weigh zero, rare tokens weigh most") {
    import org.apache.spark.sql.SaveMode
    val dir = tempDir("graft_tfidf").toString
    Seq((1L, "common rare1 common x"), (2L, "common x y"), (3L, "common z"))
      .toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val out = TextOps.l4TfIdf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(5)).toMap
    // 'common' appears in all 3 docs → idf = ln(1) = 0 everywhere
    assert(out.filter(_._1._2 == "common").values.forall(_ == 0.0))
    // 'rare1' (df=1) outweighs 'x' (df=2) within doc 1
    assert(out((1L, "rare1")) > out((1L, "x")))
    // exact check: tf=1, n_tokens=4, idf=ln(3)
    assert(math.abs(out((1L, "rare1")) - math.log(3.0) / 4) < 1e-6)
  }

  test("L4 unigram LM: typical docs score low NLL, outlier docs high, hand-computed exact") {
    // corpus of 10 tokens total: 'the' x6, 'cat' x2, 'qq' x1, 'zz' x1
    val docs = Seq(
      (1L, "the the the cat"),   // typical: high-prob tokens
      (2L, "the the the cat"),
      (3L, "qq zz"))             // outlier: two singleton tokens
      .toDF("doc_id", "text")
    val out = TextOps.unigramNll(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 4L && out(3L)._1 == 2L)
    // outlier doc scores strictly higher NLL than the typical docs
    assert(out(3L)._2 > out(1L)._2)
    // identical docs score identically
    assert(out(1L) == out(2L))
    // hand-computed: doc 3 = mean(ln(10/1), ln(10/1)) = ln(10); the
    // engine value is the micro-unit-snapped HALF_UP mean of that
    val nll10 = math.round(math.log(10.0) * 1e6)
    assert(out(3L)._2 == ((2 * (nll10 * 2) + 2) / (2 * 2)) / 1e6)
    // doc 1 = mean over (the,tf=3),(cat,tf=1): (3·ln(10/6)µ + 1·ln(10/2)µ)/4
    val s1 = 3 * math.round(math.log(10.0 / 6) * 1e6) + math.round(math.log(5.0) * 1e6)
    assert(out(1L)._2 == ((2 * s1 + 4) / (2 * 4)) / 1e6)
  }

  test("L4 NB quality classifier: separable corpus classified, hand-computed weight") {
    // ref docs speak 'good', crawl docs speak 'bad'; one held-out-style
    // mixed doc leans good 2:1
    val docs = Seq(
      (1L, "good good clean", "ref"),
      (2L, "good clean",      "ref"),
      (3L, "bad bad spam",    "crawl"),
      (4L, "bad spam spam",   "crawl"),
      (5L, "good good bad",   "crawl"))
      .toDF("doc_id", "text", "source")
    val out = TextOps.nbQualityScore(docs, col("source") === "ref").collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L)._1 && !out(3L)._1)                 // ground truth carried
    assert(out(1L)._3 && out(2L)._3)                  // ref docs predicted ref
    assert(!out(3L)._3 && !out(4L)._3)                // crawl docs predicted crawl
    assert(out(5L)._2 > out(3L)._2)                   // mixed doc beats pure spam
    // hand-computed: T+=5 (good×3, clean×2), T−=9, V=4 (good bad clean spam),
    // prior = ln(2/3); w(good) = ln((3+1)(9+4) / ((2+1)(5+4)))
    val wGood = math.round(math.log(4.0 * 13 / (3 * 9)) * 1e6)
    val wClean = math.round(math.log(3.0 * 13 / (1 * 9)) * 1e6)
    val prior = math.round(math.log(2.0 / 3) * 1e6)
    assert(out(1L)._2 == prior + 2 * wGood + wClean)
  }

  test("L4 NB train+apply == fused declared form; OOV doc floors at smoothing mass") {
    val docs = Tables(spark, sf).documents
    val isRef = col("source").isin(TextOps.NbRefSources: _*)
    val model = TextOps.nbTrain(docs, isRef)
    // applying the trained model to its own corpus reproduces the fused
    // self-scoring query exactly (no OOV tokens exist by construction)
    assertSameRows(
      TextOps.nbApply(docs, model),
      TextOps.nbQualityScore(docs, isRef)
        .select("doc_id", "n_tokens", "score_micro", "predicted_ref"))
    // a wholly-OOV doc scores prior + n·oov — the floor, not an error
    val oov = Seq((999999L, "qqxyzzy qqxyzzy qqxyzzy")).toDF("doc_id", "text")
    val r = TextOps.nbApply(oov, model).head()
    val expected = spark.range(1)
      .select((model.priorMicro + lit(3L) * model.oovMicro).as("e"))
      .head().getLong(0)
    assert(r.getAs[Long]("score_micro") == expected)
  }

  test("M7 confusion: hand-computed counts and rates; zero-denominator rate is NULL") {
    val scored = Seq(
      (true, true, 100L), (true, true, 50L),     // tp ×2
      (false, true, 10L),                        // fp
      (true, false, -5L),                        // fn
      (false, false, -100L), (false, false, -1L) // tn ×2
    ).toDF("is_ref", "predicted_ref", "score_micro")
    val r = operators.Eval.classifierConfusion(scored).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 1L, 1L, 2L)))
    assert(r.getAs[Long]("accuracy_permille") == 4L * 1000 / 6)
    assert(r.getAs[Long]("precision_permille") == 2L * 1000 / 3)
    assert(r.getAs[Long]("recall_permille") == 2L * 1000 / 3)
    assert(r.getAs[Long]("f1_permille") == 4000L / 6)
    // a gate that never predicts positive: precision and F1 are NULL
    // (undefined), recall is 0 — not a crash, not a fake zero
    val never = Seq((true, false, -1L), (false, false, -2L))
      .toDF("is_ref", "predicted_ref", "score_micro")
    val n = operators.Eval.classifierConfusion(never).head()
    assert(n.isNullAt(n.fieldIndex("precision_permille")))
    assert(n.getAs[Long]("recall_permille") == 0L)
    assert(n.getAs[Long]("f1_permille") == 0L) // 2tp+fp+fn = 1 ≠ 0: defined, zero
    // all four cells empty only when the frame is empty — but an
    // all-negative-never-predicted frame zeroes every rate denominator
    // except accuracy's
    val allNeg = Seq((false, false, -1L)).toDF("is_ref", "predicted_ref", "score_micro")
    val a = operators.Eval.classifierConfusion(allNeg).head()
    assert(a.isNullAt(a.fieldIndex("precision_permille")))
    assert(a.isNullAt(a.fieldIndex("recall_permille")))
    assert(a.isNullAt(a.fieldIndex("f1_permille")))
    assert(a.getAs[Long]("accuracy_permille") == 1000L)
  }

  test("M7 calibration: floor bins on signed scores, bins partition the scored corpus") {
    val w = operators.Eval.CalibrationBinMicro
    // boundary scores either side of zero: floor semantics, not truncation
    val scored = Seq(
      (false, false, 0L), (false, false, w - 1), (true, true, w),
      (false, false, -1L), (false, false, -w), (true, false, -w - 1))
      .toDF("is_ref", "predicted_ref", "score_micro")
    val bins = operators.Eval.classifierCalibration(scored).collect()
      .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_docs")).toMap
    assert(bins == Map(0L -> 2L, 1L -> 1L, -1L -> 2L, -2L -> 1L))
    // fixture invariants: bins partition the scored frame, permille floors
    val fx = operators.Eval.m7Calibration(spark, sf).collect()
    val total = TextOps.defaultNbScored(spark, sf).count()
    assert(fx.map(_.getAs[Long]("n_docs")).sum == total)
    fx.foreach { r =>
      assert(r.getAs[Long]("ref_permille") ==
        r.getAs[Long]("n_ref") * 1000 / r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_ref") <= r.getAs[Long]("n_docs"))
    }
  }

  test("M8 gate agreement: hand-computed kappa at the four corners") {
    import operators.Eval
    def frame(cells: Seq[(Boolean, Boolean, Int)]) = {
      val rows = cells.flatMap { case (a, b, k) => Seq.fill(k)((a, b)) }
        .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      val df = rows.toDF("doc_id", "ga", "gb")
      Eval.gateAgreement(df.select(col("doc_id"), col("ga")), "ga",
        df.select(col("doc_id"), col("gb")), "gb").head()
    }
    // perfect agreement, balanced marginals: po = 1, pe = 1/2 → κ = 1
    val perfect = frame(Seq((true, true, 5), (false, false, 5)))
    assert(perfect.getAs[Long]("kappa_micro") == 1000000L)
    // total disagreement, balanced: po = 0, pe = 1/2 → κ = −1
    val worst = frame(Seq((true, false, 5), (false, true, 5)))
    assert(worst.getAs[Long]("kappa_micro") == -1000000L)
    // exact independence: all four cells equal → po = pe = 1/2 → κ = 0
    val indep = frame(Seq((true, true, 3), (true, false, 3),
      (false, true, 3), (false, false, 3)))
    assert(indep.getAs[Long]("kappa_micro") == 0L)
    assert(indep.getAs[Long]("po_micro") == 500000L)
    assert(indep.getAs[Long]("pe_micro") == 500000L)
    // both gates constant: pe = 1 → κ undefined (NULL), not a crash
    val const = frame(Seq((true, true, 7)))
    assert(const.isNullAt(const.fieldIndex("kappa_micro")))
    // counts partition the joined set
    val mixed = frame(Seq((true, true, 2), (true, false, 3),
      (false, true, 4), (false, false, 1)))
    assert(Seq("n11", "n10", "n01", "n00").map(mixed.getAs[Long](_)).sum
      == mixed.getAs[Long]("n"))
  }

  test("L4 BPE pairs: hand-enumerated adjacent-pair counts, 1-char words excluded") {
    // vocab: "abc" x2, "bc" x1, "a" x1 (dropped: single char has no pair)
    val docs = Seq((1L, "abc bc a"), (2L, "abc")).toDF("doc_id", "text")
    val got = TextOps.bpePairStats(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // "abc" contributes ab, bc each x2; "bc" contributes bc x1
    assert(got == Map("ab" -> 2L, "bc" -> 3L))
  }

  test("L4e BPE training: greedy leftmost merges, weighted argmax, apply == train state") {
    // "aaaa"×3 dominates: round 1 must merge (a,a) — and apply it greedy
    // leftmost-first: aaaa→(aa)(aa), aaa→(aa)a, ab untouched
    val docs = Seq((1L, "aaaa aaaa aaaa aaa ab")).toDF("doc_id", "text")
    val (merges, syms) = TextOps.bpeTrain(docs, rounds = 1)
    val m = merges.collect()
    assert(m.length == 1 && m(0).getAs[String]("lhs") == "a"
      && m(0).getAs[String]("rhs") == "a")
    // weight: "aaaa"(n=3) has runs {1,2,3} → pairs at parity {1,3} but the
    // COUNT is adjacency occurrences pre-merge: 3 per word × 3 + 2 (aaa) = 11
    assert(m(0).getAs[Long]("n_occurrences") == 3L * 3 + 2)
    val state = syms.orderBy(col("word"), col("pos")).collect()
      .groupBy(_.getAs[String]("word"))
      .view.mapValues(_.map(_.getAs[String]("sym")).toSeq).toMap
    assert(state("aaaa") == Seq("aa", "aa"), state)
    assert(state("aaa") == Seq("aa", "a"), state)
    assert(state("ab") == Seq("a", "b"), state)
    // serving path: applying the trained merge table reproduces the
    // trained symbol state exactly
    val mergeList = merges.orderBy(col("round")).collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
    val vocab = docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
    assertSameRows(TextOps.bpeApply(vocab, mergeList), syms)
  }

  test("L4e memoized BPE chain == independent recompute (merges and encode)") {
    // the (session, dir)-memoized trainer must return exactly what the
    // un-memoized call computes — same discipline as the l6 chain pin
    val (cachedMerges, cachedSyms) = TextOps.defaultBpeTrain(spark, sf)
    val (freshMerges, freshSyms) = TextOps.bpeTrain(Tables(spark, sf).documents)
    assertSameRows(cachedMerges, freshMerges)
    assertSameRows(cachedSyms, freshSyms)
    // and the cache is a cache: a second call returns the same instances
    assert(TextOps.defaultBpeTrain(spark, sf)._1 eq cachedMerges)
  }

  test("L4e BPE training matches a sequential reference over multiple rounds") {
    // reference: textbook per-word greedy merge, driven by the same
    // weighted pair argmax with (count desc, l, r) tie-break
    def refMerge(word: Seq[String], l: String, r: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < word.length) {
        if (i + 1 < word.length && word(i) == l && word(i + 1) == r) {
          out += l + r; i += 2
        } else { out += word(i); i += 1 }
      }
      out.toSeq
    }
    val corpus = Seq("banana", "bandana", "cabana", "ban", "anna", "a",
      "nanana", "baba", "cab")
    val weights = corpus.zipWithIndex.map { case (w, i) => w -> (1L + i % 3) }.toMap
    var state: Map[String, Seq[String]] =
      weights.keys.map(w => w -> w.map(_.toString): (String, Seq[String])).toMap
    val docs = weights.toSeq.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val rounds = 4
    val (merges, syms) = TextOps.bpeTrain(docs, rounds)
    for (_ <- 1 to rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, segs) <- state; i <- 0 until segs.length - 1)
        counts((segs(i), segs(i + 1))) = counts.getOrElse((segs(i), segs(i + 1)), 0L) + weights(w)
      if (counts.nonEmpty) {
        val (l, r) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        state = state.map { case (w, segs) => w -> refMerge(segs, l, r) }
      }
    }
    val got = syms.orderBy(col("word"), col("pos")).collect()
      .groupBy(_.getAs[String]("word"))
      .view.mapValues(_.map(_.getAs[String]("sym")).toSeq).toMap
    assert(got == state, s"engine $got\nref $state")
    assert(merges.count() == rounds)
  }

  test("L4 BM25: rare beats common, longer docs dampened, saturates with tf") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    Seq(
      (1L, "rare topic a"),            // tf(topic)=1, dl=3
      (2L, "topic b c d e f"),         // tf(topic)=1, dl=6 (longer)
      (3L, "sat f1 f2 f3"),            // tf(sat)=1, dl=4
      (4L, "sat sat sat f4"),          // tf(sat)=3, dl=4
      (5L, "f5 f6")).toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val out = TextOps.l4Bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(5)).toMap
    // rarer term wins at equal tf in the same doc: df(rare)=1 vs df(topic)=2
    assert(out((1L, "rare")) > out((1L, "topic")))
    // length normalization: same term, same tf, longer doc scores lower
    assert(out((1L, "topic")) > out((2L, "topic")))
    // tf saturation: tripling tf (same dl) gains, but less than 3×
    assert(out((4L, "sat")) > out((3L, "sat")))
    assert(out((4L, "sat")) < 3 * out((3L, "sat")))
  }

  test("L4 BM25 search: doc holding both query terms outranks single-term docs") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25s").toString
    Seq(
      (1L, "quick fox jumps"),        // both query terms, doc 1 must win
      (2L, "quick brown bear"),       // one term
      (3L, "fox den horror"),         // one term
      (4L, "unrelated filler words"),
      (5L, "more filler text here")).toDF("doc_id", "text")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val hits = TextOps.bm25Search(spark, dir, "quick fox", 5).collect()
    assert(hits.head.getLong(0) == 1L, s"two-term doc must rank first: ${hits.toSeq}")
    assert(hits.head.getLong(2) == 2L) // both terms hit
    assert(hits.map(_.getLong(0)).toSet == Set(1L, 2L, 3L)) // only matching docs
    // scores strictly ordered desc with doc_id tie-break
    hits.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(1) > b.getDouble(1) ||
          (a.getDouble(1) == b.getDouble(1) && a.getLong(0) < b.getLong(0)))
      case _ =>
    }
    // case-exact contract: capitalized query term matches nothing extra
    assert(TextOps.bm25Search(spark, dir, "Quick", 5).count() == 0)
  }

  test("L4 fingerprint: stable 32-hex, shifts only on edit") {
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),
      (3L, "a b c d e CHANGED")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps.values.forall(_.matches("[0-9a-f]{32}")))
  }

  test("L4h blocked postings: membership not occurrences; blocks concatenate to the flat index") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (1001L, "a b"))
      .toDF("doc_id", "text")
    val out = TextOps.postings(docs, block = 1000L).collect()
    def row(tok: String, blk: Long) =
      out.find(r => r.getString(0) == tok && r.getLong(1) == blk).get
    // doc 1 holds "a" twice but posts once (membership), block split at 1000
    assert(row("a", 0L).getSeq[Long](3) == Seq(1L, 2L))
    assert(row("a", 0L).getLong(2) == 2L)
    assert(row("a", 1L).getSeq[Long](3) == Seq(1001L))
    // blocks, concatenated in block order, equal the unblocked posting list
    val flat = TextOps.postings(docs, block = Long.MaxValue).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](3)).toMap
    val stitched = out.groupBy(_.getString(0)).map { case (tok, rows) =>
      tok -> rows.sortBy(_.getLong(1)).flatMap(_.getSeq[Long](3)).toSeq
    }
    assert(stitched == flat)
  }

  test("L5 image metadata: real PNG/JPEG header parsing, unknown bytes survive as None") {
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be16(v: Int) = Array((v >>> 8).toByte, v.toByte)
    // a real PNG prefix: signature + IHDR (width 640, height 480)
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes("US-ASCII") ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0)
    // a real JPEG prefix: SOI, APP0 (JFIF), SOF0 (height 33, width 47)
    val jpeg = Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) ++ be16(16) ++
      "JFIF".getBytes("US-ASCII") ++ Array.fill[Byte](10)(0) ++
      Array(0xff, 0xc0).map(_.toByte) ++ be16(17) ++ Array[Byte](8) ++
      be16(33) ++ be16(47) ++ Array.fill[Byte](10)(0)
    assert(Multimodal.parseImageMeta(png).contains(("png", 640, 480)))
    assert(Multimodal.parseImageMeta(jpeg).contains(("jpeg", 47, 33)))
    // a real GIF prefix: signature + logical screen (LE dims 321 x 74)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x41, 0x01, 0x4a, 0x00, 0, 0, 0)
    assert(Multimodal.parseImageMeta(gif).contains(("gif", 321, 74)))
    assert(Multimodal.parseImageMeta("GIF90a1234567".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseImageMeta("garbage".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseImageMeta(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseImageMeta(png.take(20)).isEmpty) // truncated IHDR
    // the same answers through the distributed mapPartitions path
    val df = Seq((1L, png), (2L, jpeg), (3L, "garbage".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val out = Multimodal.imageMeta(df).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "png" && out(1L).getInt(2) == 640 && out(1L).getInt(3) == 480)
    assert(out(2L).getString(1) == "jpeg" && out(2L).getInt(2) == 47 && out(2L).getInt(3) == 33)
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(2) && out(3L).isNullAt(3))
  }

  test("L5 audio metadata: real WAV/RIFF header parsing, unknown bytes survive as None") {
    def le32(v: Long) = Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    def le16(v: Int) = Array(v.toByte, (v >>> 8).toByte)
    // a real 16-bit stereo 44.1 kHz WAV: RIFF/WAVE + fmt + 1s of data
    val rate = 44100; val ch = 2; val bits = 16
    val byteRate = rate * ch * bits / 8
    val dataSize = byteRate.toLong // exactly one second
    val wav = "RIFF".getBytes("US-ASCII") ++ le32(36 + dataSize) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++
      le16(1) ++ le16(ch) ++ le32(rate) ++ le32(byteRate) ++
      le16(ch * bits / 8) ++ le16(bits) ++
      "data".getBytes("US-ASCII") ++ le32(dataSize) ++ Array.fill[Byte](8)(0)
    assert(Multimodal.parseAudioMeta(wav).contains((ch, rate, bits, 1000L)))
    // an extra chunk before fmt (e.g. LIST) must be walked over
    val listed = "RIFF".getBytes("US-ASCII") ++ le32(0) ++ "WAVE".getBytes("US-ASCII") ++
      "LIST".getBytes("US-ASCII") ++ le32(4) ++ "INFO".getBytes("US-ASCII") ++
      wav.drop(12)
    assert(Multimodal.parseAudioMeta(listed).contains((ch, rate, bits, 1000L)))
    assert(Multimodal.parseAudioMeta("garbage-garbage-garbage-garbage-garbage-garb"
      .getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseAudioMeta(wav.take(30)).isEmpty) // truncated fmt
    // the same answers through the distributed mapPartitions path
    val df = Seq((1L, wav), (2L, "nope".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    val out = Multimodal.audioMeta(df).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "wav" && out(1L).getInt(2) == ch &&
      out(1L).getInt(3) == rate && out(1L).getInt(4) == bits && out(1L).getLong(5) == 1000L)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(4))
  }

  test("L5b WAV PCM decode: encode/decode round-trip, hand bytes, format gates, stats") {
    // round-trip through the real encoder: decode(encode(s)) == s,
    // mono and interleaved stereo
    val mono = Array[Short](0, 100, -100, 32767, -32768, 7)
    assert(Multimodal.decodePcmSamples(Multimodal.buildWavPcm16(mono))
      .map(_.toSeq).contains(mono.map(_.toInt).toSeq))
    val stereo = Array[Short](1, -1, 2, -2)
    assert(Multimodal.decodePcmSamples(
        Multimodal.buildWavPcm16(stereo, channels = 2, sampleRate = 44100))
      .map(_.toSeq).contains(stereo.map(_.toInt).toSeq))
    // hand-constructed bytes (independent of the encoder): two samples
    // 0x0102 = 258 and 0xFF80 = -128, little-endian
    def le32(v: Long) = Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    def le16(v: Int) = Array(v.toByte, (v >>> 8).toByte)
    def wavWith(fmtCode: Int, bits: Int, dataBytes: Array[Byte], declared: Int) =
      "RIFF".getBytes("US-ASCII") ++ le32(36L + dataBytes.length) ++
        "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++
        le16(fmtCode) ++ le16(1) ++ le32(8000) ++ le32(16000) ++
        le16(2) ++ le16(bits) ++
        "data".getBytes("US-ASCII") ++ le32(declared.toLong) ++ dataBytes
    val hand = wavWith(1, 16, Array(0x02, 0x01, 0x80, 0xff).map(_.toByte), 4)
    assert(Multimodal.decodePcmSamples(hand).map(_.toSeq).contains(Seq(258, -128)))
    // gates: non-PCM format code, unsupported depth, truncated data, garbage
    assert(Multimodal.decodePcmSamples(
      wavWith(3, 16, Array(0x02, 0x01, 0x80, 0xff).map(_.toByte), 4)).isEmpty)
    assert(Multimodal.decodePcmSamples(
      wavWith(1, 24, Array(0x02, 0x01, 0x80, 0xff, 0x00, 0x00).map(_.toByte), 6)).isEmpty)
    // 8-bit PCM is UNSIGNED centered at 128 (the format's quirk):
    // bytes 0x00/0x80/0xFF/0x81 decode re-centered to -128/0/127/1
    assert(Multimodal.decodePcmSamples(
      wavWith(1, 8, Array(0x00, 0x80, 0xff, 0x81).map(_.toByte), 4))
      .map(_.toSeq).contains(Seq(-128, 0, 127, 1)))
    assert(Multimodal.decodePcmSamples(
      wavWith(1, 16, Array(0x02, 0x01).map(_.toByte), 4)).isEmpty) // declares 4, ships 2
    assert(Multimodal.decodePcmSamples("garbage".getBytes("US-ASCII")).isEmpty)
    // distributed stats path: exact integer stats + null row survival
    val df = Seq(
      (1L, Multimodal.buildWavPcm16(Array[Short](3, -4))), // ms = (9+16)/2 = 12, peak 4, rms 3
      (2L, "nope".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val out = Multimodal.audioPcmStats(df).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2L && out(1L).getLong(2) == 12L &&
      out(1L).getLong(3) == 4L && out(1L).getLong(4) == 3L)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(4))
    // the declared query's synthesis matches the oracle formula on a
    // spot row: doc_id 5 → 69 samples, s(5,0) = (5·2654435761+12345) mod 2^16 − 2^15
    val q = Multimodal.l5AudioRms(spark, sf).filter(col("doc_id") === 5L).first()
    assert(q.getLong(1) == 64L + 5L % 64L)
  }

  test("L5c BMP pixel decode: round-trip with padding, top-down variant, gates, stats") {
    // w = 3 forces 3 pad bytes per row (stride 12) — the round-trip
    // proves the decoder skips padding and un-reverses the bottom-up
    // row order and BGR byte order
    val px = Array(0xFF0000, 0x00FF00, 0x0000FF,
                   0x102030, 0x405060, 0x708090)
    val bmp = Multimodal.buildBmp24(px, width = 3, height = 2)
    assert(bmp.length == 54 + 12 * 2) // stride 12 (9 data + 3 pad)
    assert(Multimodal.decodeBmp24(bmp).map { case (w, h, p) => (w, h, p.toSeq) }
      .contains((3, 2, px.toSeq)))
    // hand-constructed TOP-DOWN variant (negative biHeight): same pixel
    // array bytes in top-down row order must decode to the same image
    val td = bmp.clone()
    // biHeight at offset 22, little-endian: write -2
    val hBytes = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(-2).array()
    System.arraycopy(hBytes, 0, td, 22, 4)
    // rows were written bottom-up (row 1 first); top-down expects row 0
    // first — swap the two 12-byte rows so the image is unchanged
    val r0 = td.slice(54, 66); val r1 = td.slice(66, 78)
    System.arraycopy(r1, 0, td, 54, 12); System.arraycopy(r0, 0, td, 66, 12)
    assert(Multimodal.decodeBmp24(td).map { case (w, h, p) => (w, h, p.toSeq) }
      .contains((3, 2, px.toSeq)))
    // gates: wrong magic, 8bpp, compressed (BI_RLE8 = 1), truncated array
    val badMagic = bmp.clone(); badMagic(0) = 'X'.toByte
    assert(Multimodal.decodeBmp24(badMagic).isEmpty)
    val bpp8 = bmp.clone(); bpp8(28) = 8.toByte
    assert(Multimodal.decodeBmp24(bpp8).isEmpty)
    val rle = bmp.clone(); rle(30) = 1.toByte
    assert(Multimodal.decodeBmp24(rle).isEmpty)
    assert(Multimodal.decodeBmp24(bmp.take(60)).isEmpty)
    assert(Multimodal.decodeBmp24("garbage".getBytes("US-ASCII")).isEmpty)
    // distributed stats path: exact channel means + null-row survival
    val df = Seq((1L, bmp), (2L, "nope".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val out = Multimodal.imagePixelStats(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val (er, eg, eb) = (px.map(p => (p >> 16) & 0xff).sum / 6L,
      px.map(p => (p >> 8) & 0xff).sum / 6L, px.map(_ & 0xff).sum / 6L)
    assert(out(1L).getInt(1) == 3 && out(1L).getInt(2) == 2 &&
      out(1L).getLong(3) == 6L && out(1L).getLong(4) == er &&
      out(1L).getLong(5) == eg && out(1L).getLong(6) == eb)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(6))
    // declared-query spot row
    val q = Multimodal.l5ImageStats(spark, sf).filter(col("doc_id") === 3L).first()
    assert(q.getInt(1) == 8 + 3 % 8 && q.getInt(2) == 4 + 3 % 4)
  }

  test("L5d PNG pixel decode: round-trip per filter type, gates (CRC, interlace, depth), stats") {
    import java.util.zip.CRC32
    // round-trip under each FIXED filter type, including w = 1 (no left
    // neighbor — Sub/Average/Paeth degenerate) and h = 1 (no up row)
    val px6 = Array(0xFF0000, 0x00FF00, 0x0000FF, 0x102030, 0x405060, 0x708090)
    for (f <- 0 to 4) {
      assert(Multimodal.decodePng(Multimodal.buildPng(px6, 3, 2, _ => f))
        .map { case (w, h, p) => (w, h, p.toSeq) }.contains((3, 2, px6.toSeq)),
        s"png roundtrip failed at fixed filter $f")
      assert(Multimodal.decodePng(Multimodal.buildPng(px6.take(2), 1, 2, _ => f))
        .map { case (w, h, p) => (w, h, p.toSeq) }.contains((1, 2, px6.take(2).toSeq)),
        s"png w=1 roundtrip failed at filter $f")
      assert(Multimodal.decodePng(Multimodal.buildPng(px6.take(3), 3, 1, _ => f))
        .map { case (w, h, p) => (w, h, p.toSeq) }.contains((3, 1, px6.take(3).toSeq)),
        s"png h=1 roundtrip failed at filter $f")
    }
    val png = Multimodal.buildPng(px6, 3, 2)
    // re-CRC helper: patch one IHDR data byte and RESTORE chunk validity,
    // so the decoder's semantic gate (not the CRC gate) is what fires
    def patchIhdr(base: Array[Byte], dataOff: Int, v: Byte): Array[Byte] = {
      val out = base.clone()
      out(16 + dataOff) = v // IHDR data starts at 8 (sig) + 4 (len) + 4 (type)
      val crc = new CRC32
      crc.update(out, 12, 4 + 13) // chunk type + data
      val c = crc.getValue.toInt
      out(16 + 13) = (c >>> 24).toByte; out(16 + 14) = (c >>> 16).toByte
      out(16 + 15) = (c >>> 8).toByte; out(16 + 16) = c.toByte
      out
    }
    assert(Multimodal.decodePng(patchIhdr(png, 12, 1)).isEmpty) // Adam7 interlace
    assert(Multimodal.decodePng(patchIhdr(png, 8, 16)).isEmpty) // 16-bit depth
    assert(Multimodal.decodePng(patchIhdr(png, 9, 6)).isEmpty)  // RGBA color type
    // corrupt CRC (flip an IDAT data byte without re-CRCing) → None, not garbage
    val badCrc = png.clone(); badCrc(16 + 13 + 12 + 3) = (badCrc(16 + 13 + 12 + 3) ^ 0x40).toByte
    assert(Multimodal.decodePng(badCrc).isEmpty)
    // truncation at every structural boundary → None, never a throw
    assert(Multimodal.decodePng(png.take(20)).isEmpty)
    assert(Multimodal.decodePng(png.dropRight(13)).isEmpty) // IEND gone
    assert(Multimodal.decodePng("garbage".getBytes("US-ASCII")).isEmpty)
    val wrongSig = png.clone(); wrongSig(0) = 'B'.toByte
    assert(Multimodal.decodePng(wrongSig).isEmpty)
    // distributed stats path through the codec parameter + null survival
    val df = Seq((1L, png), (2L, "nope".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val out = Multimodal.imagePixelStats(df, Multimodal.decodePng).collect()
      .map(r => r.getLong(0) -> r).toMap
    val (er, eg, eb) = (px6.map(p => (p >> 16) & 0xff).sum / 6L,
      px6.map(p => (p >> 8) & 0xff).sum / 6L, px6.map(_ & 0xff).sum / 6L)
    assert(out(1L).getInt(1) == 3 && out(1L).getInt(2) == 2 &&
      out(1L).getLong(3) == 6L && out(1L).getLong(4) == er &&
      out(1L).getLong(5) == eg && out(1L).getLong(6) == eb)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(6))
    // declared-query spot row: dims follow the synthesis formula
    val q = Multimodal.l5PngStats(spark, sf).filter(col("doc_id") === 4L).first()
    assert(q.getInt(1) == 5 + 4 % 7 && q.getInt(2) == 3 + 4 % 5)
  }

  test("L5e JPEG codec: exact block-constant round-trips (gray, 4:4:4, 4:2:0, restarts)") {
    // --- grayscale: 16x8, two 8x8 blocks of distinct constants.
    // Exactness contract (Jpeg.scala doc): constant blocks under SynthQ
    // (DC quantum 8) survive the FULL pipeline bit-for-bit.
    val gy = Array.tabulate(16 * 8)(i => if ((i % 16) < 8) 40 else 201)
    val gBytes = Jpeg.buildJpegGray(gy, 16, 8)
    val gExp = gy.map(v => (v << 16) | (v << 8) | v)
    assert(Jpeg.decodeJpeg(gBytes).map { case (w, h, p) => (w, h, p.toSeq) }
      .contains((16, 8, gExp.toSeq)))
    // --- 4:4:4 color: 8x16, two vertical blocks with distinct YCbCr;
    // expected RGB comes from the SAME fixed-point formula the decoder
    // uses (yccToRgb is the shared public step the oracle replays too)
    val yccA = (77, 90, 200); val yccB = (180, 140, 60)
    def pick(i: Int) = if (i / 8 / 8 == 0) yccA else yccB // row-major 8 wide
    val cy = Array.tabulate(8 * 16)(pick(_)._1)
    val ccb = Array.tabulate(8 * 16)(pick(_)._2)
    val ccr = Array.tabulate(8 * 16)(pick(_)._3)
    val cBytes = Jpeg.buildJpeg444(cy, ccb, ccr, 8, 16)
    val cExp = Array.tabulate(8 * 16)(i => (Jpeg.yccToRgb _).tupled(pick(i)))
    assert(Jpeg.decodeJpeg(cBytes).map { case (w, h, p) => (w, h, p.toSeq) }
      .contains((8, 16, cExp.toSeq)))
    // --- 4:2:0: 32x16 = two 16x16 MCUs, constant per MCU; chroma is
    // constant per 2x2 so replication upsampling is lossless
    def mcuOf(i: Int) = (i % 32) / 16
    val sy = Array.tabulate(32 * 16)(i => if (mcuOf(i) == 0) 77 else 180)
    val scb = Array.tabulate(16 * 8)(i => if ((i % 16) / 8 == 0) 90 else 140)
    val scr = Array.tabulate(16 * 8)(i => if ((i % 16) / 8 == 0) 200 else 60)
    val sBytes = Jpeg.buildJpeg420(sy, scb, scr, 32, 16)
    val sExp = Array.tabulate(32 * 16)(i =>
      if (mcuOf(i) == 0) Jpeg.yccToRgb(77, 90, 200) else Jpeg.yccToRgb(180, 140, 60))
    assert(Jpeg.decodeJpeg(sBytes).map { case (w, h, p) => (w, h, p.toSeq) }
      .contains((32, 16, sExp.toSeq)))
    // --- restart markers: DRI=1 inserts an RSTn between every MCU and
    // resets DC prediction; the image must be unchanged
    val rBytes = Jpeg.buildJpeg420(sy, scb, scr, 32, 16, restartInterval = 1)
    assert(!(rBytes sameElements sBytes)) // the RST is really in there
    assert(Jpeg.decodeJpeg(rBytes).map { case (w, h, p) => (w, h, p.toSeq) }
      .contains((32, 16, sExp.toSeq)))
    // non-multiple-of-8 dims: encoder edge-replicates, decoder crops —
    // a constant image stays exact at any size
    val oddW = 13; val oddH = 5
    val odd = Array.fill(oddW * oddH)(123)
    assert(Jpeg.decodeJpeg(Jpeg.buildJpegGray(odd, oddW, oddH))
      .map { case (w, h, p) => (w, h, p.toSeq) }
      .contains((oddW, oddH, odd.map(v => (v << 16) | (v << 8) | v).toSeq)))
  }

  test("L5e JPEG codec: near-identity under flat quantization, ZRL path, gates, stats") {
    // deterministic pseudo-random RGB image through the full lossy
    // pipeline with all-ones quantization: per-coefficient rounding
    // loses < 0.5, the color conversions < 1 each — every AC Huffman
    // size category and the run-length coder get exercised, and the
    // result must stay within a tight band of the input
    val w = 24; val h = 16
    var seed = 12345L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) % 256).toInt }
    val px = Array.fill(w * h)((next() << 16) | (next() << 8) | next())
    val bytes = Jpeg.buildJpegRgb(px, w, h, Jpeg.FlatQ, Jpeg.FlatQ)
    val Some((dw, dh, out)) = Jpeg.decodeJpeg(bytes): @unchecked
    assert(dw == w && dh == h)
    val errs = px.zip(out).flatMap { case (a, b) =>
      Seq(math.abs(((a >> 16) & 0xff) - ((b >> 16) & 0xff)),
        math.abs(((a >> 8) & 0xff) - ((b >> 8) & 0xff)),
        math.abs((a & 0xff) - (b & 0xff)))
    }
    assert(errs.max <= 8, s"max channel error ${errs.max} after flat-Q round trip")
    assert(errs.sum.toDouble / errs.length <= 2.0, "mean channel error too high")
    // pixel-level checkerboard concentrates energy in the highest
    // frequency -> long zero runs -> the ZRL (16-zero-run) code path;
    // grayscale keeps color conversion out of the error budget
    val cb = Array.tabulate(16 * 16)(i => if (((i % 16) + i / 16) % 2 == 0) 0 else 255)
    val cbBytes = Jpeg.buildJpegGray(cb, 16, 16, Jpeg.FlatQ)
    val Some((_, _, cbOut)) = Jpeg.decodeJpeg(cbBytes): @unchecked
    val cbErr = cb.zip(cbOut).map { case (a, b) => math.abs(a - (b & 0xff)) }
    assert(cbErr.max <= 4, s"checkerboard max error ${cbErr.max}")
    // --- gates: None, never a throw ---
    def patchMarker(base: Array[Byte], from: Int, to: Int): Array[Byte] = {
      val out = base.clone()
      val i = out.indices.dropRight(1)
        .find(j => (out(j) & 0xff) == 0xff && (out(j + 1) & 0xff) == from).get
      out(i + 1) = to.toByte
      out
    }
    assert(Jpeg.decodeJpeg(patchMarker(bytes, 0xc0, 0xc2)).isEmpty) // progressive SOF2
    assert(Jpeg.decodeJpeg(patchMarker(bytes, 0xc0, 0xc9)).isEmpty) // arithmetic coding
    val bit12 = bytes.clone()
    val sofAt = bit12.indices.dropRight(1)
      .find(j => (bit12(j) & 0xff) == 0xff && (bit12(j + 1) & 0xff) == 0xc0).get
    bit12(sofAt + 4) = 12.toByte // precision byte after the 2-byte length
    assert(Jpeg.decodeJpeg(bit12).isEmpty)
    // out-of-order restart marker: RST0 rewritten to RST4
    val ri = Jpeg.buildJpeg420(Array.fill(32 * 16)(99), Array.fill(16 * 8)(120),
      Array.fill(16 * 8)(130), 32, 16, restartInterval = 1)
    assert(Jpeg.decodeJpeg(ri).nonEmpty)
    assert(Jpeg.decodeJpeg(patchMarker(ri, 0xd0, 0xd4)).isEmpty)
    assert(Jpeg.decodeJpeg(bytes.take(40)).isEmpty)       // truncated in headers
    assert(Jpeg.decodeJpeg(bytes.dropRight(30)).isEmpty)  // truncated entropy data
    assert(Jpeg.decodeJpeg("garbage".getBytes("US-ASCII")).isEmpty)
    assert(Jpeg.decodeJpeg(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty) // bare SOI
    // --- distributed stats path + null survival + declared spot rows ---
    val df = Seq((1L, cbBytes), (2L, "nope".getBytes("US-ASCII")))
      .toDF("doc_id", "payload")
    val outRows = Multimodal.imagePixelStats(df, Jpeg.decodeJpeg).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(outRows(1L).getInt(1) == 16 && outRows(1L).getInt(2) == 16)
    assert(outRows(2L).isNullAt(1) && outRows(2L).isNullAt(6))
    // synthesis wiring: dims follow the per-arm formula (doc 3 gray,
    // doc 4 4:4:4, doc 5 4:2:0 with DRI=1 — two MCUs through restarts)
    val q = Multimodal.l5JpegStats(spark, sf)
      .filter(col("doc_id").isin(3L, 4L, 5L)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(3L).getInt(1) == 16 && q(3L).getInt(2) == 16)
    assert(q(4L).getInt(1) == 16 && q(4L).getInt(2) == 16)
    assert(q(5L).getInt(1) == 32 && q(5L).getInt(2) == 16)
    // doc 5 mean replay: two MCUs, k = 0 and 1, the oracle's formula
    def ycc(d: Long, k: Long) =
      (((d * 7 + k * 29 + 31) % 256).toInt, ((d * 11 + k * 17 + 57) % 256).toInt,
        ((d * 13 + k * 23 + 94) % 256).toInt)
    val rgb5 = Seq(0L, 1L).map(k => (Jpeg.yccToRgb _).tupled(ycc(5L, k)))
    assert(q(5L).getLong(4) == rgb5.map(p => (p >> 16) & 0xff).sum / 2)
    assert(q(5L).getLong(6) == rgb5.map(p => p & 0xff).sum / 2)
  }

  test("L5f progressive JPEG: decode == sequential decode exactly; exact constants; gates") {
    // the progressive scan script re-encodes the SAME quantized
    // coefficients (DC first Al=1 + refine, per-component AC first
    // Al=1 + the G.1.2.3 correction-bit refinement with cross-block
    // EOB runs), so decoding it must reproduce the sequential decode
    // BIT-FOR-BIT — on arbitrary images, any quant table, any
    // sampling mode, with and without restart markers
    var seed = 987654321L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) % 256).toInt }
    def plane(n: Int) = Array.fill(n)(next())
    for (q <- Seq(Jpeg.FlatQ, Jpeg.SynthQ); ri <- Seq(0, 2)) {
      val label = s"q0=${q(0)} ri=$ri"
      // grayscale 21x13 (odd dims -> edge replication + partial blocks)
      val gy = plane(21 * 13)
      val gSeq = Jpeg.decodeJpeg(Jpeg.buildJpegGray(gy, 21, 13, q, ri))
      val gPro = Jpeg.decodeJpeg(Jpeg.buildJpegGray(gy, 21, 13, q, ri, progressive = true))
      assert(gSeq.nonEmpty && gPro.nonEmpty, s"gray decode failed ($label)")
      assert(gSeq.get._3.toSeq == gPro.get._3.toSeq, s"gray prog != seq ($label)")
      // 4:4:4 color 24x16
      val px = Array.fill(24 * 16)((next() << 16) | (next() << 8) | next())
      val cSeq = Jpeg.decodeJpeg(Jpeg.buildJpegRgb(px, 24, 16, q, q, ri))
      val cPro = Jpeg.decodeJpeg(Jpeg.buildJpegRgb(px, 24, 16, q, q, ri, progressive = true))
      assert(cSeq.nonEmpty && cPro.nonEmpty, s"444 decode failed ($label)")
      assert(cSeq.get._3.toSeq == cPro.get._3.toSeq, s"444 prog != seq ($label)")
      // 4:2:0 33x18 (non-multiple-of-16 -> luma coded grid smaller than
      // the interleaved grid; AC scans must walk the ceil grid)
      val sy = plane(33 * 18); val scb = plane(17 * 9); val scr = plane(17 * 9)
      val sSeq = Jpeg.decodeJpeg(Jpeg.buildJpeg420(sy, scb, scr, 33, 18, q, q, ri))
      val sPro = Jpeg.decodeJpeg(Jpeg.buildJpeg420(sy, scb, scr, 33, 18, q, q, ri, progressive = true))
      assert(sSeq.nonEmpty && sPro.nonEmpty, s"420 decode failed ($label)")
      assert(sSeq.get._3.toSeq == sPro.get._3.toSeq, s"420 prog != seq ($label)")
    }
    // block-constant exactness carries over to progressive unchanged:
    // the DC successive approximation (code dc>>1, OR the dropped bit
    // back) is exact in two's complement for either sign
    def mcuOf(i: Int) = (i % 32) / 16
    val sy = Array.tabulate(32 * 16)(i => if (mcuOf(i) == 0) 77 else 180)
    val scb = Array.tabulate(16 * 8)(i => if ((i % 16) / 8 == 0) 90 else 140)
    val scr = Array.tabulate(16 * 8)(i => if ((i % 16) / 8 == 0) 200 else 60)
    val sExp = Array.tabulate(32 * 16)(i =>
      if (mcuOf(i) == 0) Jpeg.yccToRgb(77, 90, 200) else Jpeg.yccToRgb(180, 140, 60))
    assert(Jpeg.decodeJpeg(Jpeg.buildJpeg420(sy, scb, scr, 32, 16, progressive = true))
      .map { case (w, h, p) => (w, h, p.toSeq) }.contains((32, 16, sExp.toSeq)))
    // gates: truncation inside the progressive scan chain -> None
    val pro = Jpeg.buildJpegRgb(Array.fill(16 * 16)(0x804020), 16, 16, progressive = true)
    assert(Jpeg.decodeJpeg(pro).nonEmpty)
    assert(Jpeg.decodeJpeg(pro.dropRight(20)).isEmpty)   // EOI + tail scans gone
    assert(Jpeg.decodeJpeg(pro.take(pro.length / 2)).isEmpty)
    // declared-query spot rows: arms are gray / 4:4:4 / 4:2:0 by d mod 3
    val q3 = Multimodal.l5JpegProgressive(spark, sf)
      .filter(col("doc_id").isin(3L, 5L)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q3(3L).getInt(1) == 8 * (1 + (3 / 3) % 2) && q3(3L).getInt(2) == 8 * (1 + (3 / 3) % 3))
    assert(q3(5L).getInt(1) == 16 && q3(5L).getInt(2) == 16 * (1 + 5 % 2))
  }

  test("L5g sequential multi-scan decode == interleaved; coverage gates; allocation caps") {
    // ADVICE-r14: legal NON-interleaved baseline files (one full-band
    // SOS per component, T.81 §A.2) must decode — and must decode to
    // exactly what the interleaved layout of the same coefficients
    // decodes to, since the scan layout never changes the coefficients
    var seed = 24680L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) % 256).toInt }
    def plane(n: Int) = Array.fill(n)(next())
    for (q <- Seq(Jpeg.FlatQ, Jpeg.SynthQ); ri <- Seq(0, 2)) {
      val label = s"q0=${q(0)} ri=$ri"
      val cy = plane(24 * 16); val ccb = plane(24 * 16); val ccr = plane(24 * 16)
      val il = Jpeg.decodeJpeg(Jpeg.buildJpeg444(cy, ccb, ccr, 24, 16, q, q, ri))
      val ni = Jpeg.decodeJpeg(
        Jpeg.buildJpeg444(cy, ccb, ccr, 24, 16, q, q, ri, interleaved = false))
      assert(il.nonEmpty && ni.nonEmpty, s"444 multi-scan decode failed ($label)")
      assert(il.get._3.toSeq == ni.get._3.toSeq, s"444 multi-scan != interleaved ($label)")
      // 4:2:0 odd dims: per-component scans walk the CODED (ceil) grid,
      // smaller than the interleaved grid for the luma component
      val sy = plane(33 * 18); val scb = plane(17 * 9); val scr = plane(17 * 9)
      val sIl = Jpeg.decodeJpeg(Jpeg.buildJpeg420(sy, scb, scr, 33, 18, q, q, ri))
      val sNi = Jpeg.decodeJpeg(
        Jpeg.buildJpeg420(sy, scb, scr, 33, 18, q, q, ri, interleaved = false))
      assert(sIl.nonEmpty && sNi.nonEmpty, s"420 multi-scan decode failed ($label)")
      assert(sIl.get._3.toSeq == sNi.get._3.toSeq, s"420 multi-scan != interleaved ($label)")
    }
    // coverage gates: each component coded exactly once, all coded
    val base = Jpeg.buildJpeg444(plane(16 * 16), plane(16 * 16), plane(16 * 16),
      16, 16, interleaved = false)
    def sosOffsets(b: Array[Byte]): Seq[Int] = b.indices.dropRight(1)
      .filter(j => (b(j) & 0xff) == 0xff && (b(j + 1) & 0xff) == 0xda)
    assert(sosOffsets(base).length == 3)
    assert(Jpeg.decodeJpeg(base).nonEmpty)
    // second scan re-targets component 1 -> duplicate coding -> None
    val dup = base.clone()
    dup(sosOffsets(base)(1) + 5) = 1.toByte // SOS: marker(2)+len(2)+ns(1)+cid
    assert(Jpeg.decodeJpeg(dup).isEmpty)
    // drop the third scan entirely -> component 3 never coded -> None
    val missing = base.take(sosOffsets(base)(2)) ++ Array(0xff.toByte, 0xd9.toByte)
    assert(Jpeg.decodeJpeg(missing).isEmpty)
    // --- allocation caps (ADVICE-r14): hostile ~30-byte headers that
    // declare huge frames must return None BEFORE allocating ---
    def sof(wDim: Int, hDim: Int, sampling: Int): Array[Byte] =
      (Array(0xff, 0xd8, 0xff, 0xc0, 0, 8 + 3 * 3 + 2, 8,
        hDim >> 8, hDim & 0xff, wDim >> 8, wDim & 0xff, 3) ++
        (1 to 3).flatMap(i => Array(i, sampling, 0)) ++
        Array(0xff, 0xd9)).map(_.toByte)
    // 65535x65535 = 4.3G pixels > MaxDecodePixels
    assert(Jpeg.decodeJpeg(sof(65535, 65535, 0x11)).isEmpty)
    // 8192x8192 = exactly 2^26 pixels (pixel cap passes) but 3 full
    // 4x4-sampled component grids = ~201M coef ints > MaxDecodeCoefInts
    assert(Jpeg.decodeJpeg(sof(8192, 8192, 0x44)).isEmpty)
    // a frame under both caps must proceed past SOF and only fail
    // later for having no scan data (None, not a cap rejection)
    assert(Jpeg.decodeJpeg(sof(2048, 2048, 0x11)).isEmpty) // no SOS -> None
  }

  test("L5 EXIF orientation: APP1/TIFF walk both endiannesses, display-dim transposition, gates") {
    // hand-built APP1 segment: Exif header + TIFF (II or MM) + IFD0 with
    // an optional leading Make entry (proves the scan WALKS entries, not
    // just reads slot 0) and the 0x0112 Orientation SHORT
    def app1(le: Boolean, orientation: Int, leadingEntry: Boolean): Array[Byte] = {
      val n = if (leadingEntry) 2 else 1
      val tiff = new Array[Byte](8 + 2 + n * 12 + 4)
      def p16(o: Int, v: Int): Unit =
        if (le) { tiff(o) = (v & 0xff).toByte; tiff(o + 1) = ((v >> 8) & 0xff).toByte }
        else { tiff(o) = ((v >> 8) & 0xff).toByte; tiff(o + 1) = (v & 0xff).toByte }
      def p32(o: Int, v: Int): Unit =
        if (le) { p16(o, v & 0xffff); p16(o + 2, v >>> 16) }
        else { p16(o, v >>> 16); p16(o + 2, v & 0xffff) }
      tiff(0) = if (le) 'I' else 'M'; tiff(1) = tiff(0)
      p16(2, 42); p32(4, 8); p16(8, n)
      var off = 10
      if (leadingEntry) { // Make, ASCII, inline "ab\0"
        p16(off, 0x010f); p16(off + 2, 2); p32(off + 4, 3)
        tiff(off + 8) = 'a'; tiff(off + 9) = 'b'; off += 12
      }
      p16(off, 0x0112); p16(off + 2, 3); p32(off + 4, 1); p16(off + 8, orientation)
      val payload = Array[Byte]('E', 'x', 'i', 'f', 0, 0) ++ tiff
      val len = payload.length + 2
      Array(0xff.toByte, 0xe1.toByte,
        ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++ payload
    }
    val base = Jpeg.buildJpegGray(Array.fill(16 * 8)(99), 16, 8)
    def withApp1(a: Array[Byte]) = base.take(2) ++ a ++ base.drop(2)
    // both endiannesses, with and without a leading IFD entry
    assert(Multimodal.parseExifOrientation(withApp1(app1(le = true, 6, leadingEntry = false))).contains(6))
    assert(Multimodal.parseExifOrientation(withApp1(app1(le = false, 8, leadingEntry = true))).contains(8))
    assert(Multimodal.parseExifOrientation(withApp1(app1(le = true, 3, leadingEntry = true))).contains(3))
    assert(Multimodal.parseExifOrientation(base).isEmpty) // no APP1 at all
    // orientation 5-8 transposes the DISPLAY dims; 1-4 and absent don't
    assert(Multimodal.parseImageMetaOriented(withApp1(app1(le = false, 6, leadingEntry = false)))
      .contains(("jpeg", 8, 16, 6)))
    assert(Multimodal.parseImageMetaOriented(withApp1(app1(le = true, 3, leadingEntry = false)))
      .contains(("jpeg", 16, 8, 3)))
    assert(Multimodal.parseImageMetaOriented(base).contains(("jpeg", 16, 8, 1)))
    // pixel decode keeps ignoring APPn — the APP1-carrying file decodes
    val expected = Jpeg.decodeJpeg(base).get._3.toSeq
    assert(Jpeg.decodeJpeg(withApp1(app1(le = true, 6, leadingEntry = true)))
      .map(_._3.toSeq).contains(expected))
    // gates: bad byte order, bad magic, out-of-range value, truncation
    val badBom = withApp1(app1(le = true, 6, leadingEntry = false))
    val exifAt = badBom.indices.find(j => badBom(j) == 'I' && j > 4 && badBom(j + 1) == 'I').get
    val b1 = badBom.clone(); b1(exifAt) = 'X'
    assert(Multimodal.parseExifOrientation(b1).isEmpty)
    val b2 = badBom.clone(); b2(exifAt + 2) = 43.toByte // magic != 42 (LE low byte)
    assert(Multimodal.parseExifOrientation(b2).isEmpty)
    assert(Multimodal.parseExifOrientation(withApp1(app1(le = true, 0, leadingEntry = false))).isEmpty)
    assert(Multimodal.parseExifOrientation(withApp1(app1(le = false, 9, leadingEntry = false))).isEmpty)
    assert(Multimodal.parseExifOrientation(
      withApp1(app1(le = true, 6, leadingEntry = false)).take(2 + 8)).isEmpty)
  }

  test("L5h GIF codec: exact round-trips, LZW growth + reset, interlace, gates") {
    import graft.operators.Gif
    var seed = 1122334455L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) & 0x7fffffff).toInt }
    def randPalette(n: Int) = Array.fill(n)(next() & 0xffffff)
    def rt(w: Int, h: Int, p: Int, interlaced: Boolean, v89: Boolean): Unit = {
      val pal = randPalette(p)
      val idx = Array.fill(w * h)(next() % p)
      val px = idx.map(pal)
      val got = Gif.decodeGif(Gif.buildGif(idx, w, h, pal, interlaced, v89))
      assert(got.nonEmpty, s"decode failed (${w}x$h p=$p il=$interlaced v89=$v89)")
      val (dw, dh, out) = got.get
      assert(dw == w && dh == h)
      assert(out.toSeq == px.toSeq, s"pixels differ (${w}x$h p=$p il=$interlaced v89=$v89)")
    }
    // GIF is lossless over its palette: exact for every palette size
    // class (min code sizes 2..8), both versions, both row orders
    for (p <- Seq(2, 3, 4, 16, 17, 128, 256); il <- Seq(false, true))
      rt(13, 9, p, il, v89 = p % 2 == 0)
    // LZW stress: enough random pixels to walk the code width to 12
    // bits, fill the 4096-entry table, and force a mid-stream CLEAR +
    // width reset — the table-lag/width-growth alignment either holds
    // for the whole stream or the tail scrambles
    rt(211, 127, 256, interlaced = false, v89 = true)
    rt(211, 127, 251, interlaced = true, v89 = false)
    // single-color degenerate (pure KwKwK chains)
    rt(31, 17, 2, interlaced = false, v89 = false)
    // --- gates: None, never a throw ---
    val ok = Gif.buildGif(Array.fill(6 * 4)(1), 6, 4, randPalette(4))
    assert(Gif.decodeGif(ok).nonEmpty)
    assert(Gif.decodeGif("GIF90a".getBytes("US-ASCII") ++ ok.drop(6)).isEmpty)
    assert(Gif.decodeGif(ok.take(20)).isEmpty)            // truncated in tables
    assert(Gif.decodeGif(ok.dropRight(10)).isEmpty)       // truncated LZW data
    assert(Gif.decodeGif("garbage".getBytes("US-ASCII")).isEmpty)
    // trailer before any image frame
    val hdrOnly = ok.take(13 + 3 * 4) ++ Array(0x3b.toByte)
    assert(Gif.decodeGif(hdrOnly).isEmpty)
    // hostile header: 65535x65535 = 4.3G pixels > the decode cap —
    // None before any allocation
    val huge = "GIF89a".getBytes("US-ASCII") ++
      Array(0xff, 0xff, 0xff, 0xff, 0x00, 0x00, 0x00).map(_.toByte)
    assert(Gif.decodeGif(huge).isEmpty)
    // partial-frame scope: a frame not covering the screen gates to
    // None (descriptor left byte lives right after the 0x2C marker)
    val shifted = ok.clone()
    val desc = shifted.indices.find(i => (shifted(i) & 0xff) == 0x2c).get
    shifted(desc + 1) = 1.toByte
    assert(Gif.decodeGif(shifted).isEmpty)
  }

  test("L5h GIF interop: bytes decode in ImageIO and ImageIO bytes decode here") {
    import graft.operators.Gif
    // the LZW variable-width/clear-code rules are calibrated against an
    // INDEPENDENT codec (the JDK's ImageIO GIF reader/writer), not just
    // round-tripped against this one — both directions, both row orders
    var seed = 987123L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) & 0x7fffffff).toInt }
    for (il <- Seq(false, true); p <- Seq(4, 64, 256)) {
      val w = 47; val h = 31
      val pal = Array.fill(p)(next() & 0xffffff)
      val idx = Array.fill(w * h)(next() % p)
      val mine = Gif.buildGif(idx, w, h, pal, interlaced = il)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(mine))
      assert(img != null, s"ImageIO could not parse our GIF (il=$il p=$p)")
      assert(img.getWidth == w && img.getHeight == h)
      val expected = idx.map(pal)
      val viaImageIo = Array.tabulate(w * h)(i => img.getRGB(i % w, i / w) & 0xffffff)
      assert(viaImageIo.toSeq == expected.toSeq, s"ImageIO decoded differently (il=$il p=$p)")
    }
    // reverse: an ImageIO-written GIF (indexed color model) decodes here
    val p = 16
    val pal = Array.tabulate(p)(j => ((j * 37 + 11) & 0xff) << 16 | ((j * 53 + 7) & 0xff) << 8 | ((j * 71 + 3) & 0xff))
    val icm = new java.awt.image.IndexColorModel(4, p,
      pal.map(c => ((c >> 16) & 0xff).toByte),
      pal.map(c => ((c >> 8) & 0xff).toByte),
      pal.map(c => (c & 0xff).toByte))
    val w = 29; val h = 23
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val idx = Array.tabulate(w * h)(i => (i * 7 + i / w) % p)
    for (i <- 0 until w * h) img.setRGB(i % w, i / w, pal(idx(i)))
    val bos = new java.io.ByteArrayOutputStream
    assert(javax.imageio.ImageIO.write(img, "gif", bos), "JDK GIF writer unavailable")
    val got = Gif.decodeGif(bos.toByteArray)
    assert(got.nonEmpty, "could not decode an ImageIO-written GIF")
    assert(got.get._1 == w && got.get._2 == h)
    assert(got.get._3.toSeq == idx.map(pal).toSeq,
      "ImageIO-written GIF decoded to different pixels")
  }

  test("L5h gif stats query: synthesis wiring, null survival, spot rows") {
    import graft.operators.{Gif, Multimodal}
    // distributed stats path + null survival
    val good = Gif.buildGif(Array.fill(4 * 3)(0), 4, 3, Array(0x112233, 0x445566))
    val df = Seq((1L, good), (2L, "nope".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    val outRows = Multimodal.imagePixelStats(df, Gif.decodeGif).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(outRows(1L).getInt(1) == 4 && outRows(1L).getInt(2) == 3)
    assert(outRows(1L).getLong(4) == 0x11)
    assert(outRows(2L).isNullAt(1) && outRows(2L).isNullAt(6))
    // declared-query spot rows replay the palette formula: doc 6 is
    // interlaced 89a (6%3==0, 6%2==0), doc 7 is plain 87a
    val q = Multimodal.l5GifStats(spark, sf)
      .filter(col("doc_id").isin(6L, 7L)).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (d <- Seq(6L, 7L)) {
      val w = (4 + d % 9).toInt; val h = (3 + d % 6).toInt; val p = (3 + d % 14).toInt
      def ch(i: Int, m: Long, mm: Long, a: Long) = (d * m + ((d + i * 5) % p) * mm + a) % 256
      assert(q(d).getInt(1) == w && q(d).getInt(2) == h)
      assert(q(d).getLong(4) == (0 until w * h).map(ch(_, 3, 7, 11)).sum / (w * h))
      assert(q(d).getLong(6) == (0 until w * h).map(ch(_, 7, 19, 59)).sum / (w * h))
    }
  }

  test("L5i AVI container: exact demux round-trip, padding, rec lists, placeholders, gates") {
    import graft.operators.Avi
    var seed = 424243L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) & 0x7fffffff).toInt }
    // frame payloads for the CONTAINER round-trip are arbitrary bytes —
    // the demux layer must return them verbatim whatever they hold; odd
    // lengths force the RIFF word-alignment pad byte
    val frames = IndexedSeq(17, 256, 33, 1, 1024).map(n => Array.fill(n)(next().toByte))
    val avi = Avi.buildAviMjpeg(64, 48, rate = 30000, scale = 1001, frames)
    val (meta, got) = Avi.decodeAvi(avi).get
    assert(meta == Avi.AviMeta(64, 48, 30000, 1001, 5))
    assert(got.length == 5 && got.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // dropped-frame placeholder: a size-0 chunk counts toward the total
    // but yields no frame
    val withDrop = Avi.buildAviMjpeg(8, 8, 30, 1,
      IndexedSeq(frames(0), Array.empty[Byte], frames(1)))
    val (m2, g2) = Avi.decodeAvi(withDrop).get
    assert(m2.totalFrames == 3 && g2.length == 2)
    assert(g2(0).sameElements(frames(0)) && g2(1).sameElements(frames(1)))
    // 'rec ' grouping list: wrap the movi children in a rec sublist by
    // byte surgery (interleaved AVIs group one frame-set per rec)
    def u32le(v: Long) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def u32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    val moviAt = avi.indices.find(i => i + 4 <= avi.length &&
      new String(avi, i, 4, "US-ASCII") == "movi").get
    val listAt = moviAt - 8 // LIST <size> movi
    val oldBody = u32(avi, listAt + 4).toInt - 4
    val children = java.util.Arrays.copyOfRange(avi, moviAt + 4, moviAt + 4 + oldBody)
    val rec = "LIST".getBytes("US-ASCII") ++ u32le(children.length + 4L) ++
      "rec ".getBytes("US-ASCII") ++ children
    val surgically = avi.take(listAt) ++
      ("LIST".getBytes("US-ASCII") ++ u32le(rec.length + 4L) ++ "movi".getBytes("US-ASCII") ++ rec) ++
      avi.drop(moviAt + 4 + oldBody)
    System.arraycopy(u32le(u32(surgically, 4) + 12), 0, surgically, 4, 4) // RIFF size += rec header
    val viaRec = Avi.decodeAvi(surgically)
    assert(viaRec.nonEmpty, "rec-wrapped movi did not demux")
    assert(viaRec.get._2.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // --- gates: None, never a throw ---
    assert(Avi.decodeAvi(null).isEmpty)
    assert(Avi.decodeAvi("garbage".getBytes("US-ASCII")).isEmpty)
    assert(Avi.decodeAvi(avi.take(40)).isEmpty)             // truncated in hdrl
    assert(Avi.decodeAvi(avi.dropRight(30)).isEmpty)        // truncated movi/idx1
    val badMagic = avi.clone(); badMagic(9) = 'X'.toByte    // 'AVI ' -> 'AXI '
    assert(Avi.decodeAvi(badMagic).isEmpty)
    // hostile chunk size: first movi child claims 2^31-ish bytes — the
    // overrun gate fires before any proportional allocation
    val hostile = avi.clone()
    System.arraycopy(u32le(0x7fffff00L), 0, hostile, moviAt + 8, 4)
    assert(Avi.decodeAvi(hostile).isEmpty)
    // declared-total lie: avih says one more frame than the stream holds
    val avihAt = avi.indices.find(i => i + 4 <= avi.length &&
      new String(avi, i, 4, "US-ASCII") == "avih").get
    val liar = avi.clone()
    System.arraycopy(u32le(u32(avi, avihAt + 8 + 16) + 1), 0, liar, avihAt + 8 + 16, 4)
    assert(Avi.decodeAvi(liar).isEmpty)
    // nesting bomb: a ~KB file of deeply nested 'rec ' lists must gate
    // on the depth cap (None), not recurse to a StackOverflowError
    var nested: Array[Byte] = "00dc".getBytes("US-ASCII") ++ u32le(2) ++ Array[Byte](1, 2)
    for (_ <- 0 until 100)
      nested = "LIST".getBytes("US-ASCII") ++ u32le(nested.length + 4L) ++
        "rec ".getBytes("US-ASCII") ++ nested
    val bombMovi = "LIST".getBytes("US-ASCII") ++ u32le(nested.length + 4L) ++
      "movi".getBytes("US-ASCII") ++ nested
    val baseOne = Avi.buildAviMjpeg(8, 8, 30, 1, IndexedSeq(frames(0)))
    val bMoviAt = baseOne.indices.find(i => i + 4 <= baseOne.length &&
      new String(baseOne, i, 4, "US-ASCII") == "movi").get
    val bListAt = bMoviAt - 8
    val bOldLen = u32(baseOne, bListAt + 4).toInt + 8
    val bomb = baseOne.take(bListAt) ++ bombMovi ++ baseOne.drop(bListAt + bOldLen)
    System.arraycopy(u32le(u32(baseOne, 4) - bOldLen + bombMovi.length), 0, bomb, 4, 4)
    assert(Avi.decodeAvi(bomb).isEmpty)
  }

  test("L5i video frame-sample: stride semantics, exact JPEG frames, null survival, spot rows") {
    import graft.operators.{Avi, Jpeg, Multimodal}
    // 5 block-constant 8x8 grayscale frames with per-frame luma 40+10f:
    // stride 2 keeps frames 0/2/4 whose means are exactly the luma
    val gray = (0 until 5).map(f => Jpeg.buildJpegGray(Array.fill(64)(40 + 10 * f), 8, 8))
    val vid = Avi.buildAviMjpeg(8, 8, 30, 1, gray.toIndexedSeq)
    val corrupt = Avi.buildAviMjpeg(8, 8, 30, 1, IndexedSeq("not a jpeg".getBytes("US-ASCII")))
    val df = Seq(
      (1L, vid), (2L, "nope".getBytes("US-ASCII")), (3L, corrupt)).toDF("doc_id", "payload")
    val out = Multimodal.videoFrameStats(df, stride = 2).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1)) -> r).toMap
    assert(out.keySet == Set((1L, 0), (1L, 2), (1L, 4), (2L, -1), (3L, 0)))
    for (f <- Seq(0, 2, 4)) {
      val r = out((1L, f))
      assert(r.getInt(2) == 8 && r.getInt(3) == 8 && r.getLong(4) == 64L)
      assert(r.getLong(5) == 40 + 10 * f && r.getLong(7) == 40 + 10 * f)
    }
    assert(out((2L, -1)).isNullAt(2) && out((2L, -1)).isNullAt(5)) // bad container
    assert(out((3L, 0)).isNullAt(2) && out((3L, 0)).isNullAt(5))   // bad frame bytes
    // declared-query spot rows replay the per-(frame, block) formula:
    // doc 2 (gray, nf=4, 8x16 -> blocks 0,1 stacked) samples frames 0,2;
    // doc 3 (4:4:4 color, nf=5, 16x16 -> 4 blocks) samples frames 0,2,4
    val q = Multimodal.l5VideoFrames(spark, sf)
      .filter(col("doc_id").isin(2L, 3L)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(q.keySet == Set((2L, 0), (2L, 2), (3L, 0), (3L, 2), (3L, 4)))
    def expMeans(d: Long, f: Int, nBlocks: Int): (Long, Long, Long) = {
      var r = 0L; var g = 0L; var b = 0L
      for (k <- 0 until nBlocks) {
        val y = ((d * 7 + f * 31 + k * 29 + 19) % 256).toInt
        val (rr, gg, bb) =
          if (d % 2 == 0) (y, y, y)
          else {
            val cb = ((d * 11 + f * 37 + k * 17 + 57) % 256).toInt
            val cr = ((d * 13 + f * 41 + k * 23 + 94) % 256).toInt
            val p = Jpeg.yccToRgb(y, cb, cr)
            ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
          }
        r += rr; g += gg; b += bb
      }
      (r / nBlocks, g / nBlocks, b / nBlocks)
    }
    for (((d, f), row) <- q) {
      val w = (8 * (1 + d % 2)).toInt; val h = (8 * (1 + (d / 2) % 2)).toInt
      val nb = w / 8 * (h / 8)
      val (er, eg, eb) = expMeans(d, f, nb)
      assert(row.getInt(2) == w && row.getInt(3) == h && row.getLong(4) == w.toLong * h)
      assert(row.getLong(5) == er && row.getLong(6) == eg && row.getLong(7) == eb,
        s"doc $d frame $f: got (${row.getLong(5)},${row.getLong(6)},${row.getLong(7)}) want ($er,$eg,$eb)")
    }
  }

  test("L5j resize: nearest kernel exactness, format sniff, null survival, spot rows") {
    import graft.operators.{Gif, Jpeg, Multimodal}
    var seed = 5150L
    def next(): Int = { seed = seed * 6364136223846793005L + 1442695040888963407L; ((seed >>> 33) & 0x7fffffff).toInt }
    // identity resize is the identity
    val px = Array.fill(7 * 5)(next() & 0xffffff)
    assert(Multimodal.resizeNearest(px, 7, 5, 7, 5).toSeq == px.toSeq)
    // integer 2x upscale is pixel replication
    val up = Multimodal.resizeNearest(px, 7, 5, 14, 10)
    for (y <- 0 until 10; x <- 0 until 14)
      assert(up(y * 14 + x) == px(y / 2 * 7 + x / 2))
    // 4x4 -> 2x2 keeps the top-left of each 2x2 box (floor mapping)
    val p16 = Array.tabulate(16)(identity)
    assert(Multimodal.resizeNearest(p16, 4, 4, 2, 2).toSeq == Seq(0, 2, 8, 10))
    // format sniff: the same pixels through all four real codecs resize
    // to the same BMP bytes (GIF needs a palette image; use 4 colors)
    val pal = Array(0x102030, 0x405060, 0x708090, 0xa0b0c0)
    val idx = Array.tabulate(6 * 4)(i => i % 4)
    val palPx = idx.map(pal)
    val viaBmp = Multimodal.buildBmp24(palPx, 6, 4)
    val viaPng = Multimodal.buildPng(palPx, 6, 4, _ % 5)
    val viaGif = Gif.buildGif(idx, 6, 4, pal)
    val inputs = Seq((1L, viaBmp), (2L, viaPng), (3L, viaGif),
      (4L, "not an image".getBytes("US-ASCII")))
    val out = Multimodal.resizeImages(inputs.toDF("doc_id", "payload"), 3, 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    val want = Multimodal.buildBmp24(
      Multimodal.resizeNearest(palPx, 6, 4, 3, 2), 3, 2).toSeq
    for (d <- Seq(1L, 2L, 3L)) {
      assert(out(d).getInt(1) == 6 && out(d).getInt(2) == 4)
      assert(out(d).getAs[Array[Byte]](3).toSeq == want, s"doc $d resize differs")
    }
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(3))
    // JPEG arm: block-constant 16x8 gray halves to 8x4 with exact luma
    val jp = Jpeg.buildJpegGray(Array.tabulate(16 * 8)(i => if (i % 16 < 8) 50 else 200), 16, 8)
    val jOut = Multimodal.resizeImages(Seq((9L, jp)).toDF("doc_id", "payload"), 8, 4)
      .collect()(0).getAs[Array[Byte]](3)
    val (jw, jh, jpx) = Multimodal.decodeBmp24(jOut).get
    assert(jw == 8 && jh == 4)
    assert(jpx.forall(p => p == 0x323232 || p == 0xc8c8c8))
    assert(jpx.count(_ == 0x323232) == 16)
    // declared-query spot rows replay the index mapping + formula
    val q = Multimodal.l5ResizeStats(spark, sf)
      .filter(col("doc_id").isin(4L, 5L)).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (d <- Seq(4L, 5L)) {
      val w = (8 + d % 8).toInt; val h = (4 + d % 4).toInt
      def srcIdx(i2: Int) = (i2 / 5) * h / 3 * w + (i2 % 5) * w / 5
      def ch(m: Long, mm: Long, a: Long) =
        (0 until 15).map(i2 => (d * m + srcIdx(i2) * mm + a) % 256).sum / 15
      assert(q(d).getInt(1) == w && q(d).getInt(2) == h)
      assert(q(d).getInt(3) == 5 && q(d).getInt(4) == 3 && q(d).getLong(5) == 15L)
      assert(q(d).getLong(6) == ch(29, 31, 47))
      assert(q(d).getLong(7) == ch(37, 41, 89))
      assert(q(d).getLong(8) == ch(43, 53, 3))
    }
  }

  test("L5l animated GIF: composition, disposal, transparency, LCT, gates") {
    import graft.operators.Gif
    import graft.operators.Gif.GifFrame
    val palA = Array(0x111111, 0x222222, 0x333333, 0x444444)
    // full-screen frames, disposal 0: composited frame f == raw frame f
    val fullFrames = (0 until 3).map(g =>
      GifFrame(Array.tabulate(12)(i => (i + g) % 4), 0, 0, 4, 3, delayCs = g * 10))
    val (w1, h1, comp1, delays1) =
      Gif.decodeGifFrames(Gif.buildAnimatedGif(4, 3, palA, fullFrames)).get
    assert(w1 == 4 && h1 == 3 && comp1.length == 3)
    assert(delays1 == IndexedSeq(0, 10, 20))
    for (g <- 0 until 3)
      assert(comp1(g).toSeq == fullFrames(g).indices.map(palA).toSeq, s"frame $g")
    // partial rect: last-writer-wins at the overwritten pixel only
    val partial = Seq(
      GifFrame(Array.fill(12)(0), 0, 0, 4, 3),
      GifFrame(Array(3), 2, 1, 1, 1))
    val comp2 = Gif.decodeGifFrames(Gif.buildAnimatedGif(4, 3, palA, partial)).get._3
    assert(comp2(1).zipWithIndex.forall { case (c, i) =>
      if (i == 1 * 4 + 2) c == palA(3) else c == palA(0) })
    // transparency: transparent pixels leave the underlying canvas through
    val trans = Seq(
      GifFrame(Array.tabulate(12)(_ % 4), 0, 0, 4, 3),
      GifFrame(Array(1, 0, 1, 0, 1, 0), 1, 1, 3, 2, transparentIndex = 0))
    val comp3 = Gif.decodeGifFrames(Gif.buildAnimatedGif(4, 3, palA, trans)).get._3
    for (y <- 0 until 3; x <- 0 until 4) {
      val under = palA((y * 4 + x) % 4)
      val want =
        if (y >= 1 && x >= 1 && ((y - 1) * 3 + (x - 1)) % 2 == 0) palA(1) else under
      assert(comp3(1)(y * 4 + x) == want, s"($x,$y)")
    }
    // disposal 2: after the frame shows, its rect restores to background
    // (background index 0 — the builder's fixed choice)
    val disp2 = Seq(
      GifFrame(Array.fill(12)(2), 0, 0, 4, 3),
      GifFrame(Array(3, 3), 1, 1, 2, 1, disposal = 2),
      GifFrame(Array(1), 0, 0, 1, 1))
    val comp4 = Gif.decodeGifFrames(Gif.buildAnimatedGif(4, 3, palA, disp2)).get._3
    assert(comp4(1)(1 * 4 + 1) == palA(3) && comp4(1)(1 * 4 + 2) == palA(3))
    assert(comp4(2)(1 * 4 + 1) == palA(0) && comp4(2)(1 * 4 + 2) == palA(0)) // restored to bg
    assert(comp4(2)(0) == palA(1) && comp4(2)(3) == palA(2))
    // disposal 3: restore to previous — frame 2 sees the pre-frame-1 canvas
    val disp3 = Seq(
      GifFrame(Array.fill(12)(2), 0, 0, 4, 3),
      GifFrame(Array(3, 3), 1, 1, 2, 1, disposal = 3),
      GifFrame(Array(1), 0, 0, 1, 1))
    val comp5 = Gif.decodeGifFrames(Gif.buildAnimatedGif(4, 3, palA, disp3)).get._3
    assert(comp5(1)(1 * 4 + 1) == palA(3))
    assert(comp5(2)(1 * 4 + 1) == palA(2) && comp5(2)(0) == palA(1)) // previous restored
    // local palette overrides global; interlaced rect decodes in order
    val lct = Array(0xaa0000, 0x00bb00)
    val withLct = Seq(
      GifFrame(Array.fill(12)(0), 0, 0, 4, 3),
      GifFrame(Array.tabulate(8)(_ % 2), 0, 0, 2, 4, localPalette = Some(lct),
        interlaced = true))
    val comp6 = Gif.decodeGifFrames(Gif.buildAnimatedGif(4, 4,
      palA, Seq(GifFrame(Array.fill(16)(0), 0, 0, 4, 4)) ++ withLct.tail)).get._3
    for (y <- 0 until 4; x <- 0 until 2)
      assert(comp6(1)(y * 4 + x) == lct((y * 2 + x) % 2), s"lct ($x,$y)")
    // single-frame animated bytes still satisfy the thumbnailer decoder
    val one = Gif.buildAnimatedGif(4, 3, palA, fullFrames.take(1))
    assert(Gif.decodeGif(one).map(_._3.toSeq).contains(comp1(0).toSeq))
    // --- gates ---
    val ok = Gif.buildAnimatedGif(4, 3, palA, fullFrames)
    assert(Gif.decodeGifFrames(ok.dropRight(8)).isEmpty)   // truncated
    val badDisp = ok.clone() // first GCE flags at NETSCAPE(19+12=31)+GCE hdr: find 0xf9
    val gceAt = badDisp.indices.find(i => (badDisp(i) & 0xff) == 0x21 &&
      i + 1 < badDisp.length && (badDisp(i + 1) & 0xff) == 0xf9).get
    badDisp(gceAt + 3) = (4 << 2).toByte // reserved disposal 4
    assert(Gif.decodeGifFrames(badDisp).isEmpty)
    val oob = ok.clone() // push first descriptor's left beyond the screen
    val descAt = oob.indices.find(i => (oob(i) & 0xff) == 0x2c).get
    oob(descAt + 1) = 9.toByte
    assert(Gif.decodeGifFrames(oob).isEmpty)
    // retention gate: the canvas-per-frame budget gates to None BEFORE
    // snapshotting past it (tested via the cap-parameterized form; the
    // production default is MaxDecodeTotalPixels) — and a cap with
    // headroom decodes identically to the default
    val threeFrames = Gif.buildAnimatedGif(4, 3, palA, fullFrames) // 12 px screen
    assert(Gif.decodeGifFrames(threeFrames, maxTotalPixels = 35L).isEmpty) // 3rd frame: (2+1)*12 > 35
    assert(Gif.decodeGifFrames(threeFrames, maxTotalPixels = 36L).nonEmpty) // exactly the budget
    // a single-frame GIF gets the full per-screen budget (same cap as
    // the still path): gate is 1*sw*sh, not 2*sw*sh
    val oneFrame = Gif.buildAnimatedGif(4, 3, palA, fullFrames.take(1))
    assert(Gif.decodeGifFrames(oneFrame, maxTotalPixels = 12L).nonEmpty)
    assert(Gif.decodeGifFrames(oneFrame, maxTotalPixels = 11L).isEmpty)
    // interop: the JDK's independent GIF reader sees the same frame count
    // and the same FIRST frame pixels in our animated bytes
    val rdr = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    rdr.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(ok)))
    assert(rdr.getNumImages(true) == 3)
    val img0 = rdr.read(0)
    assert(img0.getWidth == 4 && img0.getHeight == 3)
    assert((0 until 12).forall(i =>
      (img0.getRGB(i % 4, i / 4) & 0xffffff) == comp1(0)(i)))
  }

  test("L5l gif frame-sample: stride, closed-form composition spot rows, null survival") {
    import graft.operators.Multimodal
    // null survival + stride over the declared corpus's own synthesis
    val bad = Seq((99L, "gif?no".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    val badRow = Multimodal.gifFrameStats(bad, 2).collect()(0)
    assert(badRow.getLong(0) == 99L && badRow.isNullAt(1) && badRow.isNullAt(5))
    // declared-query spot rows replay the g* = min(f, W-x-1) closed form:
    // doc 0 (interlaced, nf=2 -> sampled {0}), doc 7 (nf=3 -> {0, 2})
    val q = Multimodal.l5GifFrames(spark, sf)
      .filter(col("doc_id").isin(0L, 7L)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(q.keySet == Set((0L, 0), (7L, 0), (7L, 2)))
    for (((d, f), row) <- q) {
      val p = (4 + d % 12).toInt; val w = (6 + d % 6).toInt; val h = (4 + d % 4).toInt
      var r = 0L; var g = 0L; var b = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val gs = math.min(f, w - x - 1)
        val j = (d + gs * 7 + (y * (w - gs) + x) * 5) % p
        r += (d * 11 + j * 3 + 17) % 256
        g += (d * 13 + j * 23 + 41) % 256
        b += (d * 17 + j * 29 + 103) % 256
      }
      val n = (w * h).toLong
      assert(row.getInt(2) == w && row.getInt(3) == h && row.getLong(4) == n)
      assert(row.getLong(5) == r / n && row.getLong(6) == g / n && row.getLong(7) == b / n,
        s"doc $d frame $f")
    }
  }

  test("L5m MPEG-1 intra: round-trip exactness, DC chains, AC path, gates") {
    import graft.operators.{Jpeg, Mpeg1}
    // 32x16 = 2 macroblocks: exercises the DC prediction chain across
    // the 4-luma-block MB order AND across macroblocks within a slice
    val w = 32; val h = 16
    val yDc = Array.tabulate((w / 8) * (h / 8))(k => (k * 37 + 11) % 256)
    val cb = Array.tabulate(2)(m => (m * 91 + 40) % 256)
    val cr = Array.tabulate(2)(m => (m * 53 + 200) % 256)
    val es = Mpeg1.buildMpeg1I(w, h, IndexedSeq(Mpeg1.Mpeg1Frame(yDc, cb, cr)))
    val (dw, dh, frames) = Mpeg1.decodeMpeg1Frames(es).get
    assert(dw == w && dh == h && frames.length == 1)
    val px = frames(0)
    for (y <- 0 until h; x <- 0 until w) {
      val k = (y / 8) * (w / 8) + x / 8
      val m = (y / 16) * (w / 16) + x / 16
      assert(px(y * w + x) == Jpeg.yccToRgb(yDc(k), cb(m), cr(m)), s"($x,$y)")
    }
    // multi-picture stream: order preserved, distinct content survives
    val f2 = Mpeg1.Mpeg1Frame(yDc.map(v => 255 - v), cb, cr)
    val es2 = Mpeg1.buildMpeg1I(w, h,
      IndexedSeq(Mpeg1.Mpeg1Frame(yDc, cb, cr), f2, Mpeg1.Mpeg1Frame(yDc, cb, cr)))
    val fs2 = Mpeg1.decodeMpeg1Frames(es2).get._3
    assert(fs2.length == 3 && fs2(0).toSeq == fs2(2).toSeq
      && fs2(0).toSeq != fs2(1).toSeq)
    // AC path: hand-assembled 16x16 stream — one VLC-coded (0,+1) and
    // one ESCAPE-coded (1,-5) coefficient on the first luma block; the
    // expected samples come from an independent in-test double IDCT
    val bits = new StringBuilder
    def put(v: Int, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits.append((v >> i) & 1))
    def start(code: Int): Unit = {
      while (bits.length % 8 != 0) bits.append(0)
      put(0, 8); put(0, 8); put(1, 8); put(code, 8)
    }
    start(0xb3); put(16, 12); put(16, 12); put(1, 4); put(5, 4)
    put(0x3ffff, 18); put(1, 1); put(0, 10); put(0, 1); put(0, 1); put(0, 1)
    start(0x00); put(0, 10); put(1, 3); put(0xffff, 16); put(0, 1)
    start(0x01); put(8, 5); put(0, 1)       // slice row 1, qs 8
    put(1, 1); put(1, 1)                    // addr inc 1, type intra
    put(14, 4); put(3, 5)                   // Y0 DC: size 5 ('1110'), -28
    put(3, 2); put(0, 1)                    // AC (0,+1): '11' + sign 0
    put(1, 6); put(1, 6); put(251, 8)       // ESCAPE, run 1, level -5
    put(2, 2)                               // EOB
    for (_ <- 0 until 3) { put(4, 3); put(2, 2) }  // Y1..Y3: DC diff 0, EOB
    for (_ <- 0 until 2) { put(0, 2); put(2, 2) }  // Cb, Cr: DC diff 0, EOB
    start(0xb7)
    while (bits.length % 8 != 0) bits.append(0)
    val hand = bits.toString.grouped(8)
      .map(s => Integer.parseInt(s, 2).toByte).toArray
    val hpx = Mpeg1.decodeMpeg1Frames(hand).get._3.head
    // coefficients after dequant (qs 8, default intra W): DC 100·8=800;
    // zz1 → raster 1: 2·1·8·16/16 = 16 → oddified 15; zz3 → raster 16:
    // 2·(−5)·8·19/16 = −95 (already odd)
    val coef = new Array[Int](64)
    coef(0) = 800; coef(1) = 15; coef(16) = -95
    def refIdct(cf: Array[Int]): Array[Int] = Array.tabulate(64) { i =>
      val x = i % 8; val y = i / 8
      var s = 0.0
      for (v <- 0 until 8; u <- 0 until 8) {
        val cu = if (u == 0) 1.0 / math.sqrt(2) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2) else 1.0
        s += cu * cv / 4.0 * cf(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      }
      math.max(0, math.min(255, math.round(s).toInt))
    }
    val refY = refIdct(coef)
    for (y <- 0 until 8; x <- 0 until 8)
      assert(hpx(y * 16 + x) == Jpeg.yccToRgb(refY(y * 8 + x), 128, 128), s"AC ($x,$y)")
    // gates: truncation; an inter-coded (P) picture gates the stream;
    // the retention budget binds per picture
    assert(Mpeg1.decodeMpeg1Frames(es.dropRight(12)).isEmpty)
    val pIdx = es.indices.find(i => i + 5 < es.length && es(i) == 0 &&
      es(i + 1) == 0 && es(i + 2) == 1 && es(i + 3) == 0).get
    val pf = es.clone()
    pf(pIdx + 5) = 0x17.toByte // type 010 (P) as the FIRST picture: no ref
    assert(Mpeg1.decodeMpeg1Frames(pf).isEmpty)
    val bf = es.clone()
    bf(pIdx + 5) = 0x1f.toByte // type 011 (B): bidirectional gate
    assert(Mpeg1.decodeMpeg1Frames(bf).isEmpty)
    assert(Mpeg1.decodeMpeg1Frames(es2, maxTotalPixels = 2L * w * h).isEmpty)
    assert(Mpeg1.decodeMpeg1Frames(es2, maxTotalPixels = 3L * w * h).nonEmpty)
  }

  test("L5n MPEG-1 P-pictures: residual chain round-trip, MC full/half-pel, skip, intra refresh") {
    import graft.operators.{Jpeg, Mpeg1}
    // (1) builder round-trip: I + 2 P with the exactly-reconstructable
    // odd-delta family; chroma constant — expected = closed form
    val w = 32; val h = 16
    val y0 = Array.tabulate(8)(k => 40 + (k * 37 + 11) % 176)
    val cb = Array(90, 170); val cr = Array(200, 30)
    val d1 = Array.tabulate(8)(k => if (k % 2 == 0) 3 + 2 * (k % 4) else -(3 + 2 * (k % 4)))
    val d2 = Array.tabulate(8)(k => if (k % 3 == 0) -5 else 7)
    val es = Mpeg1.buildMpeg1(w, h, IndexedSeq(
      Mpeg1.IPicture(Mpeg1.Mpeg1Frame(y0, cb, cr)),
      Mpeg1.PPicture(d1), Mpeg1.PPicture(d2)))
    val (dw, dh, fr) = Mpeg1.decodeMpeg1Frames(es).get
    assert(dw == w && dh == h && fr.length == 3)
    for (y <- 0 until h; x <- 0 until w; f <- 0 until 3) {
      val k = (y / 8) * 4 + x / 8
      val m = x / 16
      val expY = y0(k) + (if (f >= 1) d1(k) else 0) + (if (f >= 2) d2(k) else 0)
      assert(fr(f)(y * w + x) == Jpeg.yccToRgb(expY, cb(m), cr(m)), s"f$f ($x,$y)")
    }
    // (2) hand-assembled P pictures over a 48x16 I reference: MB0 gets
    // a coded +3 residual, MB1 is SKIPPED (copy), MB2 is an INTRA
    // refresh; a further P picture does MC — full-pel (+1 px) on MB0,
    // half-pel averaging on MB1, zero-MV copy on MB2
    val w3 = 48
    val y3 = Array.tabulate(12)(k => 48 + k * 16) // 12 luma blocks, distinct
    val cb3 = Array(128, 128, 128); val cr3 = Array(128, 128, 128)
    val base = Mpeg1.buildMpeg1I(w3, h, IndexedSeq(Mpeg1.Mpeg1Frame(y3, cb3, cr3)))
    val bits = new StringBuilder
    def put(v: Int, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits.append((v >> i) & 1))
    def start(code: Int): Unit = {
      while (bits.length % 8 != 0) bits.append(0)
      put(0, 8); put(0, 8); put(1, 8); put(code, 8)
    }
    def pPicHeader(tr: Int): Unit = {
      start(0x00); put(tr, 10); put(2, 3); put(0xffff, 16)
      put(0, 1); put(1, 3) // half-pel units, f_code 1
      put(0, 1)
    }
    // P picture 1: MB0 coded residual +3 on all four luma blocks
    pPicHeader(1)
    start(0x01); put(8, 5); put(0, 1)
    put(1, 1)            // inc 1 -> MB0
    put(1, 2)            // type '01' No-MC coded
    put(7, 3)            // CBP 60
    for (_ <- 0 until 4) {
      put(1, 6); put(0, 6); put(1, 8) // escape, run 0, level +1 => D=+3
      put(2, 2)                        // EOB
    }
    put(3, 3)            // inc 2 ('011') -> skips MB1, lands MB2
    put(3, 5)            // type '00011': intra refresh
    for (b <- 0 until 4) {
      // DC diff vs reset predictor 128: target 200 -> diff 72 (size 7)
      val target = 200; val prevv = if (b == 0) 128 else 200
      val diff = target - prevv
      if (diff == 0) put(4, 3)
      else { put(62, 6); put(diff, 7) } // luma size 7
      put(2, 2)
    }
    put(0, 2); put(2, 2) // Cb: diff 0, EOB
    put(0, 2); put(2, 2) // Cr
    // P picture 2: MB0 MC +1 full pel (dxHalf=2), MB1 MC half-pel
    // (dxHalf=1 via predictor delta -1), MB2 zero-MV copy
    pPicHeader(2)
    start(0x01); put(8, 5); put(0, 1)
    put(1, 1); put(1, 3) // MB0: type '001' MC-not-coded
    put(1, 3); put(0, 1) // horiz code 2 ('001') sign + => dxHalf 2
    put(1, 1)            // vert code 0
    put(1, 1); put(1, 3) // MB1: MC-not-coded
    put(1, 2); put(1, 1) // horiz code -1 ('01' sign 1): pred 2-1=1
    put(1, 1)            // vert 0
    put(1, 1); put(1, 3) // MB2: MC-not-coded
    put(1, 2); put(1, 1) // horiz code -1: pred 1-1=0
    put(1, 1)            // vert 0
    start(0xb7)
    while (bits.length % 8 != 0) bits.append(0)
    val tail = bits.toString.grouped(8)
      .map(g => Integer.parseInt(g, 2).toByte).toArray
    val stream = base.dropRight(4) ++ tail // replace base's sequence_end
    val fr3 = Mpeg1.decodeMpeg1Frames(stream).get._3
    assert(fr3.length == 3)
    def lum(px: Array[Int], x: Int, y: Int): Int = (px(y * w3 + x) >> 16) & 0xff
    // frame1: MB0 luma +3 (gray: r==g==b under cb=cr=128 after +3 shift?
    // compare via expected yccToRgb), MB1 == frame0, MB2 flat 200
    for (y <- 0 until h; x <- 0 until w3) {
      val k = (y / 8) * 6 + x / 8
      val exp1 =
        if (x < 16) Jpeg.yccToRgb(y3(k) + 3, 128, 128)
        else if (x < 32) fr3(0)(y * w3 + x)
        else Jpeg.yccToRgb(200, 128, 128)
      assert(fr3(1)(y * w3 + x) == exp1, s"P1 ($x,$y)")
    }
    // frame2: MB0 = frame1 shifted left 1 px; MB1 = horizontal half-pel
    // average of frame1; MB2 = frame1 copy
    for (y <- 0 until h; x <- 0 until w3) {
      val expY =
        if (x < 16) lum(fr3(1), x + 1, y)
        else if (x < 32) (lum(fr3(1), x, y) + lum(fr3(1), x + 1, y) + 1) >> 1
        else lum(fr3(1), x, y)
      assert(fr3(2)(y * w3 + x) == Jpeg.yccToRgb(expY, 128, 128), s"P2 ($x,$y)")
    }
  }

  test("L5o MPEG-1 B-pictures: fwd/bwd/interp round-trip, reorder, MC, skip, intra refresh, gates") {
    import graft.operators.{Jpeg, Mpeg1}
    // (1) builder round-trip: decode order I P B(fwd,coded)
    // B(bwd,not-coded) B(interp,coded) over 32x16; display order must
    // come out I B1 B2 B3 P with the closed-form pixel algebra
    val w = 32; val h = 16
    val y0 = Array.tabulate(8)(k => 40 + (k * 37 + 11) % 140)
    val cb = Array(90, 170); val cr = Array(200, 30)
    val dP = Array.tabulate(8)(k => if (k % 2 == 0) 5 else -7)
    val dB1 = Array.tabulate(8)(k => if (k % 3 == 0) 9 else -3)
    val dB3 = Array.tabulate(8)(k => if (k % 2 == 0) -5 else 3)
    val es = Mpeg1.buildMpeg1(w, h, IndexedSeq(
      Mpeg1.IPicture(Mpeg1.Mpeg1Frame(y0, cb, cr)),
      Mpeg1.PPicture(dP),
      Mpeg1.BPicture(1, dB1),         // forward + residual
      Mpeg1.BPicture(2, null),        // backward, not coded
      Mpeg1.BPicture(3, dB3)))        // interpolated + residual
    val (dw, dh, fr) = Mpeg1.decodeMpeg1Frames(es).get
    assert(dw == w && dh == h && fr.length == 5)
    for (y <- 0 until h; x <- 0 until w) {
      val k = (y / 8) * 4 + x / 8
      val m = x / 16
      val yP = y0(k) + dP(k)
      val exp = Array(
        y0(k),                         // display 0: I
        y0(k) + dB1(k),                // display 1: B fwd + residual
        yP,                            // display 2: B bwd of P
        ((y0(k) + yP + 1) >> 1) + dB3(k), // display 3: B interp + residual
        yP)                            // display 4: P
      for (f <- 0 until 5)
        assert(fr(f)(y * w + x) == Jpeg.yccToRgb(exp(f), cb(m), cr(m)),
          s"display $f ($x,$y)")
    }
    // (2) hand-assembled B over a 64x16 I + P(+3) anchor pair: MB0
    // forward MC +1 full pel, MB1 SKIPPED (repeats MB0's direction and
    // vector — the B skip semantics), MB2 backward half-pel, MB3 intra
    // refresh; constant chroma so the luma MC is the whole story
    val w3 = 64
    val y3 = Array.tabulate(16)(k => 48 + k * 9)
    val cbF = Array(128, 128, 128, 128); val crF = Array(128, 128, 128, 128)
    val base = Mpeg1.buildMpeg1I(w3, h, IndexedSeq(Mpeg1.Mpeg1Frame(y3, cbF, crF)))
    val bits = new StringBuilder
    def put(v: Int, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits.append((v >> i) & 1))
    def start(code: Int): Unit = {
      while (bits.length % 8 != 0) bits.append(0)
      put(0, 8); put(0, 8); put(1, 8); put(code, 8)
    }
    // P picture: every MB No-MC coded, +3 on all four luma blocks
    start(0x00); put(1, 10); put(2, 3); put(0xffff, 16)
    put(0, 1); put(1, 3); put(0, 1)
    start(0x01); put(8, 5); put(0, 1)
    for (_ <- 0 until 4) {
      put(1, 1); put(1, 2); put(7, 3) // inc 1, type '01', CBP 60
      for (_ <- 0 until 4) { put(1, 6); put(0, 6); put(1, 8); put(2, 2) }
    }
    // B picture: fwd f_code 1, bwd f_code 1
    start(0x00); put(2, 10); put(3, 3); put(0xffff, 16)
    put(0, 1); put(1, 3); put(0, 1); put(1, 3); put(0, 1)
    start(0x01); put(8, 5); put(0, 1)
    put(1, 1)            // inc 1 -> MB0
    put(2, 4)            // type '0010': forward, not coded
    put(1, 3); put(0, 1) // fwd h: code +2 -> dxHalf 2 (+1 full pel)
    put(1, 1)            // fwd v: 0
    put(3, 3)            // inc 2 ('011'): SKIP MB1, land MB2
    put(2, 3)            // type '010': backward, not coded
    put(1, 2); put(1, 1) // bwd h: code -1 -> dxHalf -1 (half-pel)
    put(1, 1)            // bwd v: 0
    put(1, 1)            // inc 1 -> MB3
    put(3, 5)            // type '00011': intra refresh
    for (b <- 0 until 4) {
      if (b == 0) { put(62, 6); put(72, 7) } // DC 128 -> 200
      else put(4, 3)                          // diff 0
      put(2, 2)
    }
    put(0, 2); put(2, 2); put(0, 2); put(2, 2) // Cb, Cr: diff 0
    start(0xb7)
    while (bits.length % 8 != 0) bits.append(0)
    val tail = bits.toString.grouped(8)
      .map(g => Integer.parseInt(g, 2).toByte).toArray
    val stream = base.dropRight(4) ++ tail // replace base's sequence_end
    val fr3 = Mpeg1.decodeMpeg1Frames(stream).get._3
    assert(fr3.length == 3) // display: I, B, P
    def lum(px: Array[Int], x: Int, y: Int): Int = (px(y * w3 + x) >> 16) & 0xff
    for (y <- 0 until h; x <- 0 until w3) {
      val k = (y / 8) * 8 + x / 8
      assert(fr3(0)(y * w3 + x) == Jpeg.yccToRgb(y3(k), 128, 128), s"I ($x,$y)")
      assert(fr3(2)(y * w3 + x) == Jpeg.yccToRgb(y3(k) + 3, 128, 128), s"P ($x,$y)")
      val expY =
        if (x < 32) lum(fr3(0), x + 1, y)                       // MB0 + skipped MB1
        else if (x < 48) (lum(fr3(2), x - 1, y) + lum(fr3(2), x, y) + 1) >> 1
        else 200                                                 // intra refresh
      assert(fr3(1)(y * w3 + x) == Jpeg.yccToRgb(expY, 128, 128), s"B ($x,$y)")
    }
    // (3) gates: a B picture before two anchors returns None (both as
    // the first picture and right after the first anchor), a D picture
    // inside a non-D sequence gates (the 11172-2 2.4.1 all-D rule —
    // pure-D streams decode, see the L5p spec), and skip-after-intra
    // inside a B picture is malformed
    val es2 = Mpeg1.buildMpeg1I(w, h, IndexedSeq(
      Mpeg1.Mpeg1Frame(y0, cb, cr), Mpeg1.Mpeg1Frame(y0.reverse, cb, cr)))
    val picStarts = es2.indices.filter(i => i + 5 < es2.length &&
      es2(i) == 0 && es2(i + 1) == 0 && es2(i + 2) == 1 && es2(i + 3) == 0)
    assert(picStarts.length == 2)
    val firstB = es2.clone(); firstB(picStarts(0) + 5) = 0x1f.toByte
    assert(Mpeg1.decodeMpeg1Frames(firstB).isEmpty)
    val secondB = es2.clone(); secondB(picStarts(1) + 5) = 0x1f.toByte
    assert(Mpeg1.decodeMpeg1Frames(secondB).isEmpty)
    val dPic = es2.clone(); dPic(picStarts(1) + 5) = 0x27.toByte
    assert(Mpeg1.decodeMpeg1Frames(dPic).isEmpty)
    // skip-after-intra: rebuild the hand B with MB0 intra then a skip
    bits.clear()
    start(0x00); put(2, 10); put(3, 3); put(0xffff, 16)
    put(0, 1); put(1, 3); put(0, 1); put(1, 3); put(0, 1)
    start(0x01); put(8, 5); put(0, 1)
    put(1, 1); put(3, 5)  // MB0: intra
    for (b <- 0 until 4) { put(4, 3); put(2, 2) } // DC diff 0 x4
    put(0, 2); put(2, 2); put(0, 2); put(2, 2)
    put(3, 3)             // inc 2: skip MB1 — illegal after intra
    put(2, 4); put(1, 3); put(0, 1); put(1, 1) // MB2 fwd (never reached)
    put(1, 1); put(2, 4); put(1, 3); put(0, 1); put(1, 1)
    start(0xb7)
    while (bits.length % 8 != 0) bits.append(0)
    val badTail = bits.toString.grouped(8)
      .map(g => Integer.parseInt(g, 2).toByte).toArray
    // base I + hand P (re-using the P bytes from `stream` would need a
    // re-slice; simplest conforming prefix: I + I anchors)
    val anchors = Mpeg1.buildMpeg1I(w3, h, IndexedSeq(
      Mpeg1.Mpeg1Frame(y3, cbF, crF), Mpeg1.Mpeg1Frame(y3, cbF, crF)))
    assert(Mpeg1.decodeMpeg1Frames(anchors.dropRight(4) ++ badTail).isEmpty)
  }

  test("L5m mpeg1 frame-sample: stride, null survival, declared spot rows") {
    import graft.operators.Multimodal
    val bad = Seq((99L, "mpg?not".getBytes("US-ASCII"))).toDF("doc_id", "payload")
    val badRow = Multimodal.mpeg1FrameStats(bad, 2).collect()(0)
    assert(badRow.getLong(0) == 99L && badRow.isNullAt(1) && badRow.isNullAt(5))
    // declared-query spot rows against the synthesis formula:
    // doc 1 (nf=3 → sampled {0,2}, 32x16), doc 2 (nf=4%3=... nf=2+2%3=4? no: 2+2=4? d%3 of 2 is 2 → nf=4) — use docs 1 and 3
    val q = Multimodal.l5Mpeg1Frames(spark, sf)
      .filter(col("doc_id").isin(1L, 3L)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    for (((d, f), row) <- q) {
      val w = (16 * (1 + d % 2)).toInt; val h = (16 * (1 + (d / 2) % 2)).toInt
      var r = 0L; var g = 0L; var b = 0L
      for (k <- 0 until (w / 8) * (h / 8)) {
        val m = ((k / (w / 8)) / 2) * (w / 16) + (k % (w / 8)) / 2
        val y = ((d * 7 + f * 29 + k * 31 + 23) % 256).toInt
        val cbv = ((d * 11 + f * 37 + m * 17 + 61) % 256).toInt
        val crv = ((d * 13 + f * 41 + m * 19 + 96) % 256).toInt
        val rgb = graft.operators.Jpeg.yccToRgb(y, cbv, crv)
        r += ((rgb >> 16) & 0xff) * 64; g += ((rgb >> 8) & 0xff) * 64
        b += (rgb & 0xff) * 64
      }
      val n = (w.toLong * h)
      assert(row.getInt(2) == w && row.getInt(3) == h && row.getLong(4) == n)
      assert(row.getLong(5) == r / n && row.getLong(6) == g / n
        && row.getLong(7) == b / n, s"doc $d frame $f")
    }
    assert(q.keySet == Set((1L, 0), (1L, 2), (3L, 0)))
  }

  test("L5p MPEG-1 D-pictures: round-trip, grammar, gates, declared spot rows") {
    import graft.operators.{Jpeg, Mpeg1}
    // (1) round-trip exactness: 32x16, two D pictures — DC chains run
    // across the 4-luma-block MB order and across macroblocks, and
    // display order is decode order (no anchors held back)
    val w = 32; val h = 16
    val yDc = Array.tabulate((w / 8) * (h / 8))(k => (k * 41 + 7) % 256)
    val cb = Array.tabulate(2)(m => (m * 73 + 50) % 256)
    val cr = Array.tabulate(2)(m => (m * 61 + 180) % 256)
    val d0 = Mpeg1.DPicture(Mpeg1.Mpeg1Frame(yDc, cb, cr))
    val d1 = Mpeg1.DPicture(Mpeg1.Mpeg1Frame(yDc.map(v => 255 - v), cb, cr))
    val es = Mpeg1.buildMpeg1(w, h, IndexedSeq(d0, d1))
    val (dw, dh, frames) = Mpeg1.decodeMpeg1Frames(es).get
    assert(dw == w && dh == h && frames.length == 2)
    for (y <- 0 until h; x <- 0 until w) {
      val k = (y / 8) * (w / 8) + x / 8
      val m = (y / 16) * (w / 16) + x / 16
      assert(frames(0)(y * w + x) == Jpeg.yccToRgb(yDc(k), cb(m), cr(m)), s"D0 ($x,$y)")
      assert(frames(1)(y * w + x) == Jpeg.yccToRgb(255 - yDc(k), cb(m), cr(m)), s"D1 ($x,$y)")
    }
    // (2) grammar, hand-assembled 16x16: D blocks carry NO end_of_block
    // and the macroblock ends with the end_of_macroblock marker — a
    // cleared marker bit is malformed
    val bits = new StringBuilder
    def put(v: Int, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits.append((v >> i) & 1))
    def start(code: Int): Unit = {
      while (bits.length % 8 != 0) bits.append(0)
      put(0, 8); put(0, 8); put(1, 8); put(code, 8)
    }
    def handStream(eom: Int): Array[Byte] = {
      bits.clear()
      start(0xb3); put(16, 12); put(16, 12); put(1, 4); put(5, 4)
      put(0x3ffff, 18); put(1, 1); put(0, 10); put(0, 1); put(0, 1); put(0, 1)
      start(0x00); put(0, 10); put(4, 3); put(0xffff, 16); put(0, 1) // D: no f_codes
      start(0x01); put(8, 5); put(0, 1)   // slice row 1, qs 8
      put(1, 1); put(1, 1)                // addr inc 1, type (table B.4)
      put(14, 4); put(3, 5)               // Y0 DC: size 5, -28 → 100
      for (_ <- 0 until 3) put(4, 3)      // Y1..Y3: DC diff 0 — NO EOB
      for (_ <- 0 until 2) put(0, 2)      // Cb, Cr: DC diff 0
      put(eom, 1)                         // end_of_macroblock
      start(0xb7)
      while (bits.length % 8 != 0) bits.append(0)
      bits.toString.grouped(8).map(s => Integer.parseInt(s, 2).toByte).toArray
    }
    val hpx = Mpeg1.decodeMpeg1Frames(handStream(1)).get._3.head
    for (i <- 0 until 256)
      assert(hpx(i) == Jpeg.yccToRgb(100, 128, 128), s"hand $i")
    assert(Mpeg1.decodeMpeg1Frames(handStream(0)).isEmpty)
    // (3) gates: a non-D picture inside a D sequence (the mirror of the
    // I-then-D gate in the L5o spec), truncation, retention budget
    val picStarts = es.indices.filter(i => i + 5 < es.length &&
      es(i) == 0 && es(i + 1) == 0 && es(i + 2) == 1 && es(i + 3) == 0)
    assert(picStarts.length == 2)
    val mixed = es.clone()
    mixed(picStarts(1) + 5) = // keep tr bits, set picture type to 1 (I)
      ((mixed(picStarts(1) + 5) & 0xC7) | 0x08).toByte
    assert(Mpeg1.decodeMpeg1Frames(mixed).isEmpty)
    assert(Mpeg1.decodeMpeg1Frames(es.dropRight(10)).isEmpty)
    assert(Mpeg1.decodeMpeg1Frames(es, maxTotalPixels = 1L * w * h).isEmpty)
    assert(Mpeg1.decodeMpeg1Frames(es, maxTotalPixels = 2L * w * h).nonEmpty)
    // (4) declared-query spot rows against the synthesis formula
    val q = graft.operators.Multimodal.l5Mpeg1DFrames(spark, sf)
      .filter(col("doc_id").isin(1L, 3L)).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    for (((d, f), row) <- q) {
      val ww = (16 * (1 + d % 2)).toInt; val hh = (16 * (1 + (d / 2) % 2)).toInt
      var r = 0L; var g = 0L; var b = 0L
      for (k <- 0 until (ww / 8) * (hh / 8)) {
        val m = ((k / (ww / 8)) / 2) * (ww / 16) + (k % (ww / 8)) / 2
        val y = ((d * 5 + f * 23 + k * 37 + 11) % 256).toInt
        val cbv = ((d * 17 + f * 31 + m * 13 + 42) % 256).toInt
        val crv = ((d * 19 + f * 43 + m * 29 + 77) % 256).toInt
        val rgb = Jpeg.yccToRgb(y, cbv, crv)
        r += ((rgb >> 16) & 0xff) * 64; g += ((rgb >> 8) & 0xff) * 64
        b += (rgb & 0xff) * 64
      }
      val n = ww.toLong * hh
      assert(row.getInt(2) == ww && row.getInt(3) == hh && row.getLong(4) == n)
      assert(row.getLong(5) == r / n && row.getLong(6) == g / n
        && row.getLong(7) == b / n, s"doc $d frame $f")
    }
    assert(q.keySet == Set((1L, 0), (1L, 2), (3L, 0)))
  }

  test("L5s MS-RLE8: delta round-trip, canvas retention, opcode arms, gates, spot rows") {
    import graft.operators.Avi
    val pal = Array(0x000000, 0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    // keyframe + two delta frames; frame 2 == frame 0, so its delta vs
    // frame 1 must REWRITE what frame 1 changed and skip the rest
    val w = 7; val h = 3
    val f0 = Array.tabulate(w * h)(i => i % 4)
    val f1 = f0.clone(); f1(3) = 4; f1(10) = 4 // sparse changes
    val frames = IndexedSeq(f0, f1, f0.clone())
    val avi = Avi.buildAviRle8(w, h, 15, 1, pal, frames)
    val (dw, dh, out) = Avi.decodeAviRle8(avi).get
    assert(dw == w && dh == h && out.length == 3)
    for (fi <- 0 until 3; i <- 0 until w * h)
      assert(out(fi)(i) == pal(frames(fi)(i)), s"frame $fi px $i")
    // the delta encoder must actually emit skips: frame 1's payload is
    // far smaller than a keyframe encoding of the same grid
    val delta = Avi.encodeRle8Frame(f1, f0, w, h)
    val key = Avi.encodeRle8Frame(f1, null, w, h)
    assert(delta.length < key.length, s"${delta.length} vs ${key.length}")
    // worst-case frame with no runs (every pixel differs from its
    // neighbor) still round-trips exactly
    val noRuns = Array.tabulate(w * h)(i => i % pal.length) // length-1 runs
    val avi2 = Avi.buildAviRle8(w, h, 15, 1, pal, IndexedSeq(noRuns))
    assert(Avi.decodeAviRle8(avi2).get._3.head.toSeq ==
      noRuns.map(i => pal(i)).toSeq)
    // gates: non-RLE8 container (MJPEG) → None, truncated payload →
    // None, pixel budget → None
    assert(Avi.decodeAviRle8(graft.operators.Multimodal.synthAviAssets(
      tables).limit(1).collect()(0).getAs[Array[Byte]]("payload")).isEmpty)
    assert(Avi.decodeAviRle8(avi.dropRight(6)).isEmpty)
    assert(Avi.decodeAviRle8(avi, maxTotalPixels = 2L * w * h).isEmpty)
    assert(Avi.decodeAviRle8(avi, maxTotalPixels = 3L * w * h).nonEmpty)
    // declared spot rows against the synthesis formula
    val q = graft.operators.Multimodal.l5Rle8Frames(spark, sf)
      .filter(col("doc_id").isin(1L, 3L)).collect()
    for (r <- q) {
      val d = r.getLong(0); val fi = r.getInt(1)
      val ww = (8 + d % 8).toInt; val hh = (4 + d % 4).toInt
      var rs = 0L; var gs = 0L; var bs = 0L
      for (i <- 0 until ww * hh) {
        val k = ((d * 3 + i / 4 + fi * ((i / 4 + d) % 3)) % 16).toInt
        rs += ((d * 29 + k * 31 + 47) % 256)
        gs += ((d * 37 + k * 41 + 89) % 256)
        bs += ((d * 43 + k * 53 + 3) % 256)
      }
      val n = (ww * hh).toLong
      assert(r.getInt(2) == ww && r.getInt(3) == hh && r.getLong(4) == n)
      assert(r.getLong(5) == rs / n && r.getLong(6) == gs / n
        && r.getLong(7) == bs / n, s"doc $d frame $fi")
    }
    assert(q.map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 0), (1L, 1), (1L, 2), (3L, 0), (3L, 1)))
  }

  test("L5r IMA ADPCM: reference decode, state machinery, gates, declared spot rows") {
    import graft.operators.Multimodal
    // independent in-test reference decoder (straight from the IMA
    // algorithm description, written against the spec not the impl)
    val stepT = Multimodal.ImaStepTable
    val idxT = Multimodal.ImaIndexTable
    def ref(blocks: Seq[(Short, Int, Array[Byte])]): Seq[Int] =
      blocks.flatMap { case (s0, i0, nibs) =>
        var pred = s0.toInt; var idx = i0
        s0.toInt +: nibs.toSeq.map { nb =>
          val n = nb.toInt
          val step = stepT(idx)
          var d = step >> 3
          if ((n & 1) != 0) d += step >> 2
          if ((n & 2) != 0) d += step >> 1
          if ((n & 4) != 0) d += step
          pred = if ((n & 8) != 0) pred - d else pred + d
          pred = math.max(-32768, math.min(32767, pred))
          idx = math.max(0, math.min(88, idx + idxT(n)))
          pred
        }
      }
    // general path: index motion, clamps, multi-block state reset —
    // codes 7/15 move the index by +8, so the step table is walked
    val blocks = Seq(
      (1000.toShort, 20, Array[Byte](7, 15, 4, 12, 0, 8, 3, 11)),
      (-2000.toShort, 88, Array[Byte](15, 15, 7, 7, 1, 9, 2, 10)), // clamp region
      (0.toShort, 0, Array[Byte](3, 3, 3, 3, 11, 11, 11, 11)))
    val wav = Multimodal.buildWavIma(blocks, blockAlign = 8)
    assert(Multimodal.decodePcmSamples(wav).get.toSeq == ref(blocks))
    // nibble packing order is LOW first: asymmetric pair decodes as (low, high)
    val one = Seq((0.toShort, 0, Array[Byte](1, 4, 0, 0, 0, 0, 0, 0)))
    assert(Multimodal.decodePcmSamples(Multimodal.buildWavIma(one, 8)).get.toSeq
      == ref(one))
    // gates: stereo, bad header index, unaligned data, truncation
    val stereo = wav.clone(); stereo(22) = 2 // channels field
    assert(Multimodal.decodePcmSamples(stereo).isEmpty)
    val badIdx = wav.clone(); badIdx(48 + 2) = 89.toByte // first block index
    assert(Multimodal.decodePcmSamples(badIdx).isEmpty)
    assert(Multimodal.decodePcmSamples(wav.dropRight(3)).isEmpty)
    // declared spot rows against the closed-form family
    val q = Multimodal.l5AdpcmRms(spark, sf)
      .filter(col("doc_id").isin(1L, 3L)).collect()
    for (r <- q) {
      val d = r.getLong(0)
      val nBlocks = (2 + d % 3).toInt
      val samples = (0 until nBlocks).flatMap { b =>
        val s0 = ((d * 13 + b * 47) % 512 - 256).toInt
        var acc = s0
        s0 +: (0 until 16).map { j =>
          val idx = ((d + b * 3 + j * 5) % 8).toInt
          val v = Array(0, 1, 3, 4)(idx % 4)
          acc += (if (idx < 4) v else -v)
          acc
        }
      }
      val ms = samples.map(s => s.toLong * s).sum / samples.length
      assert(r.getLong(1) == samples.length.toLong)
      assert(r.getLong(2) == ms)
      assert(r.getLong(3) == samples.map(s => math.abs(s.toLong)).max)
      assert(r.getLong(4) == math.sqrt(ms.toDouble).toLong, s"doc $d")
    }
    assert(q.length == 2)
  }

  test("L5q gzip: round-trips, flag paths, JDK interop, gates, declared spot rows") {
    import graft.operators.Gzip
    val data = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    // single- and multi-member round-trip exactness
    val (m1, d1) = Gzip.decodeGzip(Gzip.buildGzipMember(data)).get
    assert(m1 == 1 && d1.toSeq == data.toSeq)
    val two = Gzip.buildGzip(Seq(data.take(10), data.drop(10)))
    val (m2, d2) = Gzip.decodeGzip(two).get
    assert(m2 == 2 && d2.toSeq == data.toSeq)
    // every FLG path decodes to the same bytes
    for (v <- Seq(
      Gzip.buildGzipMember(data, fname = Some("rec.txt")),
      Gzip.buildGzipMember(data, comment = Some("a comment")),
      Gzip.buildGzipMember(data, extra = Some(Array[Byte](1, 2, 3))),
      Gzip.buildGzipMember(data, headerCrc = true),
      Gzip.buildGzipMember(data, fname = Some("f"), comment = Some("c"),
        extra = Some(Array[Byte](9)), headerCrc = true)))
      assert(Gzip.decodeGzip(v).get._2.toSeq == data.toSeq)
    // JDK interop, both directions
    val jos = new java.io.ByteArrayOutputStream
    val g = new java.util.zip.GZIPOutputStream(jos)
    g.write(data); g.close()
    assert(Gzip.decodeGzip(jos.toByteArray).get._2.toSeq == data.toSeq)
    val jin = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(Gzip.buildGzipMember(data)))
    assert(jin.readAllBytes().toSeq == data.toSeq)
    // gates: magic, CM, reserved FLG bits, trailer CRC, ISIZE,
    // header CRC16, truncation, trailing garbage, output budget
    val ok = Gzip.buildGzipMember(data)
    def mut(i: Int, v: Int): Array[Byte] = {
      val c = ok.clone(); c(i) = v.toByte; c
    }
    assert(Gzip.decodeGzip(mut(0, 0x1e)).isEmpty)        // magic
    assert(Gzip.decodeGzip(mut(2, 7)).isEmpty)           // CM != 8
    assert(Gzip.decodeGzip(mut(3, 0x20)).isEmpty)        // reserved FLG
    assert(Gzip.decodeGzip(mut(ok.length - 6, (ok(ok.length - 6) ^ 1))).isEmpty) // CRC32
    assert(Gzip.decodeGzip(mut(ok.length - 1, (ok(ok.length - 1) ^ 1))).isEmpty) // ISIZE
    val hc = Gzip.buildGzipMember(data, headerCrc = true)
    assert(Gzip.decodeGzip({ val c = hc.clone(); c(10) = (c(10) ^ 1).toByte; c }).isEmpty)
    assert(Gzip.decodeGzip(ok.dropRight(3)).isEmpty)     // truncated
    assert(Gzip.decodeGzip(ok ++ Array[Byte](1, 2, 3, 4)).isEmpty) // garbage
    assert(Gzip.decodeGzip(ok, maxOut = data.length - 1L).isEmpty) // budget
    assert(Gzip.decodeGzip(ok, maxOut = data.length.toLong).nonEmpty)
    // declared spot rows: decoded text must hash to the fixture text
    val docs = tables.documents.filter(col("doc_id").isin(1L, 3L))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val q = graft.operators.Multimodal.l5GzipText(spark, sf)
      .filter(col("doc_id").isin(1L, 3L)).collect()
    assert(q.length == 2)
    for (r <- q) {
      val text = docs(r.getLong(0))
      assert(r.getInt(1) == 2 && r.getInt(2) == text.length)
      val ref = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(3) == ref, s"doc ${r.getLong(0)}")
    }
  }

  test("L5k G.711: ITU reference points, container round-trips, gates, spot rows") {
    import graft.operators.Multimodal
    // ITU-T G.711 reference points (public tables): both zeros, both
    // full-scale codes, both laws' smallest magnitudes
    assert(Multimodal.ulawToLinear(0xff) == 0)
    assert(Multimodal.ulawToLinear(0x7f) == 0)       // negative zero
    assert(Multimodal.ulawToLinear(0x80) == 32124)   // + full scale
    assert(Multimodal.ulawToLinear(0x00) == -32124)  // - full scale
    assert(Multimodal.alawToLinear(0xd5) == 8)       // + smallest
    assert(Multimodal.alawToLinear(0x55) == -8)      // - smallest
    assert(Multimodal.alawToLinear(0xaa) == 32256)   // + full scale
    assert(Multimodal.alawToLinear(0x2a) == -32256)  // - full scale
    // expansions are odd-symmetric about the sign bit across the
    // whole alphabet (the compander's defining property)
    for (c <- 0 until 128) {
      assert(Multimodal.ulawToLinear(c) == -Multimodal.ulawToLinear(c | 0x80))
      assert(Multimodal.alawToLinear(c) == -Multimodal.alawToLinear(c | 0x80))
    }
    // container round-trip: every code byte survives the WAV walk and
    // expands through the right law (tag dispatch)
    val codes = Array.tabulate(256)(_.toByte)
    val viaU = Multimodal.decodePcmSamples(Multimodal.buildWavG711(codes, aLaw = false))
    val viaA = Multimodal.decodePcmSamples(Multimodal.buildWavG711(codes, aLaw = true))
    assert(viaU.get.toSeq == (0 until 256).map(Multimodal.ulawToLinear))
    assert(viaA.get.toSeq == (0 until 256).map(Multimodal.alawToLinear))
    // gates: a G.711 tag at 16 bits is malformed; unknown tags stay None
    val bad16 = Multimodal.buildWavG711(codes, aLaw = true)
    bad16(34) = 16.toByte
    assert(Multimodal.decodePcmSamples(bad16).isEmpty)
    val tag3 = Multimodal.buildWavG711(codes, aLaw = false)
    tag3(20) = 3.toByte
    assert(Multimodal.decodePcmSamples(tag3).isEmpty)
    // PCM-16 path unchanged by the dispatch rework
    val pcm = Array.tabulate(64)(i => (i * 1021 - 32000).toShort)
    assert(Multimodal.decodePcmSamples(Multimodal.buildWavPcm16(pcm)).get.toSeq ==
      pcm.map(_.toInt).toSeq)
    // declared-query spot rows replay the formula: doc 2 ulaw, doc 3 alaw
    val q = Multimodal.l5G711Rms(spark, sf)
      .filter(col("doc_id").isin(2L, 3L)).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (d <- Seq(2L, 3L)) {
      val n = (48 + d % 32).toInt
      val vals = (0 until n).map { i =>
        val c = ((d * 31 + i * 7 + 3) % 256).toInt
        if (d % 2 == 0) Multimodal.ulawToLinear(c) else Multimodal.alawToLinear(c)
      }
      val ms = vals.map(v => v.toLong * v).sum / n
      assert(q(d).getString(1) == (if (d % 2 == 0) "ulaw" else "alaw"))
      assert(q(d).getLong(2) == n.toLong)
      assert(q(d).getLong(3) == ms)
      assert(q(d).getLong(4) == vals.map(v => math.abs(v.toLong)).max)
      assert(q(d).getLong(5) == math.sqrt(ms.toDouble).toLong)
    }
  }

  test("L5 multimodal decode stub: schema, alignment, determinism") {
    val assets = Multimodal.assets(tables)
    val feats = Multimodal.decodeFeatures(assets)
    assert(feats.schema == Multimodal.featureSchema)
    val rows = feats.collect()
    assert(rows.length == assets.count())
    rows.foreach { r =>
      assert(r.getInt(1) == 16) // md5 payload is 16 bytes
      val f = r.getSeq[Double](2)
      assert(f.length == 4 && f.forall(x => x >= 0.0 && x <= 1.0))
    }
    // resize + frame-sample stubs COMPOSE: sampling sees the resized bytes
    val shaped = Multimodal.frameSample(Multimodal.resizePayload(assets, 8), stride = 2)
      .select(col("payload"), col("frames")).limit(20).collect()
    shaped.foreach { r =>
      assert(r.getAs[Array[Byte]](0).length == 8)
      val frames = r.getSeq[Array[Byte]](1)
      assert(frames.length == 1 && frames.head.length == 4) // 8B resized / (4·2) block
    }
    assertThrows[IllegalArgumentException](Multimodal.frameSample(assets, 0))
  }

  test("L4i repetition: degenerate docs hit the permille extremes, fixture stays in range") {
    val df = Seq(
      (1L, "a a a a"),   // one type repeated
      (2L, "w x y z"),   // all unique
      (3L, "a b a b"))   // alternating pair
      .toDF("doc_id", "text")
    val m = TextOps.repetitionStats(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Long]("dup_token_permille") == 750L)   // (4-1)/4
    assert(m(1L).getAs[Long]("top_token_permille") == 1000L)
    assert(m(1L).getAs[Long]("dup_mass_permille") == 1000L)
    assert(m(1L).getAs[Long]("dup_bigram_permille") == 666L)  // 3 grams, 1 unique
    assert(m(2L).getAs[Long]("dup_token_permille") == 0L)
    assert(m(2L).getAs[Long]("top_token_permille") == 250L)   // 1/4
    assert(m(2L).getAs[Long]("dup_bigram_permille") == 0L)
    assert(m(3L).getAs[Long]("dup_token_permille") == 500L)
    assert(m(3L).getAs[Long]("dup_mass_permille") == 1000L)
    assert(m(3L).getAs[Long]("dup_bigram_permille") == 333L)  // a b, b a, a b
    val fixture = TextOps.l4Repetition(spark, sf).collect()
    assert(fixture.length == tables.documents.count())
    fixture.foreach { r =>
      Seq("dup_token_permille", "top_token_permille", "dup_mass_permille",
        "dup_bigram_permille").foreach { c =>
        val v = r.getAs[Long](c); assert(v >= 0L && v <= 1000L, s"$c=$v")
      }
    }
  }

  test("L4 bm25 memoization: cached frame == independent recompute, invalidation hook works") {
    import graft.operators.TextOps
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).sortBy(_.toString).toList
    val fresh = rows(TextOps.bm25Frame(tables.documents))
    assert(rows(TextOps.defaultBm25(spark, sf)) == fresh, "cached != recompute")
    SessionCache.clearAll()
    assert(rows(TextOps.defaultBm25(spark, sf)) == fresh, "post-invalidation != recompute")
  }

  test("L3 centroid memoization: cached frame == independent recompute, instance-stable") {
    val cached = Similarity.defaultCentroids(TestSpark.spark, sf)
    // memoized: the second lookup must hand back the SAME frame, not a
    // retrained chain
    assert(cached eq Similarity.defaultCentroids(TestSpark.spark, sf))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
        .sortBy(_._1).toList
    val fresh = Similarity.trainedCentroids(tables.embeddings, Similarity.IvfCells)
    assert(rows(cached) == rows(fresh), "cached centroids must equal a recompute")
  }

  test("L11 semantic dedup: greedy keep-first sweep, non-transitive, salt-invariant") {
    // one cell (nCells = 1 → single deterministic centroid) so assignment
    // can't split the constructed geometry. Angles 0° / 18.2° / 36° / 180°:
    // cos(x,y) ≈ 0.950 ≥ τ, cos(y,z) ≈ 0.952 ≥ τ, cos(x,z) ≈ 0.809 < τ,
    // the antipode matches nothing.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),       // x — survivor (lowest id)
      (1L, Seq(0.95f, 0.3122f), 0),   // y — dropped by x
      (2L, Seq(0.809f, 0.5878f), 0),  // z — dropped by y EVEN THOUGH y is
                                      // itself dropped: the greedy sweep is
                                      // pairwise, not transitively closed
      (3L, Seq(-1.0f, 0.0f), 0)       // antipode — survives (cos = −1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedup(emb, nCells = 1, tau = 0.95).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("n_vecs") == 4L)
    assert(r.getAs[Long]("n_dropped") == 2L, s"expected drops {1,2}: $r")
    assert(r.getAs[Long]("dropped_id_digest") == 3L) // ids 1 + 2
    // salting decomposition must not change the pair set
    for (chunks <- Seq(1, 3)) {
      val alt = Similarity.semanticDedup(emb, nCells = 1, tau = 0.95,
        chunks = chunks).collect()
      assert(alt.map(_.toSeq.toList).toList == got.map(_.toSeq.toList).toList,
        s"chunks=$chunks")
    }
    // τ above every pairwise cosine → nothing dropped
    val none = Similarity.semanticDedup(emb, nCells = 1, tau = 0.999).collect()
    assert(none.head.getAs[Long]("n_dropped") == 0L)
  }

  test("L11 cell scaling: semCellsFor is ceil(n/target) floored at IvfCells; caches invalidate") {
    import Similarity.{semCellsFor, IvfCells, SemCellTarget}
    assert(semCellsFor(0L) == IvfCells)
    assert(semCellsFor(1L) == IvfCells)
    assert(semCellsFor(IvfCells * SemCellTarget) == IvfCells)
    // first n where the formula leaves the floor
    assert(semCellsFor(IvfCells * SemCellTarget + 1) == IvfCells + 1)
    assert(semCellsFor(2000L) == 16)   // the sf0.1 fixture's cell count
    assert(semCellsFor(SemCellTarget * 1000L) == 1000) // exact multiple: no off-by-one
    assert(semCellsFor(SemCellTarget * 1000L + 1) == 1001)
    // invalidation hook: after clearing, lookups retrain/recount into NEW
    // entries (the immutable-corpus-dir assumption's escape hatch)
    val before = Similarity.defaultCentroids(TestSpark.spark, sf)
    val nBefore = Similarity.embeddingCount(TestSpark.spark, sf)
    SessionCache.clearAll()
    val after = Similarity.defaultCentroids(TestSpark.spark, sf)
    assert(!(before eq after), "cleared cache must not serve the old frame")
    assert(Similarity.embeddingCount(TestSpark.spark, sf) == nBefore)
  }

  test("L3 PQ after an in-place corpus rewrite: clearAll() drops the codebooks AND their argmin literals") {
    // pqTopK reads two memos built from one training run: the codebook
    // frame (ADC tables) and its collected rows (the encode's argmin
    // literals). Clearing only the first pairs fresh ADC tables with
    // stale literals and ranks the wrong candidates.
    val dir = tempDir("graft-pq-rewrite")
    val emb = dir.resolve("embeddings.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "embeddings.parquet"), emb)
    val t = Tables(spark, dir.toString)
    val before = Similarity.pqTopK(t, 0L, 10).collect().toSeq
    // rewrite the corpus in place: same ids, labels and schema, new vectors
    val rows = t.embeddings.collect()
    val schema = t.embeddings.schema
    val rnd = new scala.util.Random(7)
    val changed = rows.map(r => org.apache.spark.sql.Row(r.getLong(0),
      Seq.fill(r.getSeq[Float](1).size)(rnd.nextGaussian().toFloat), r.getInt(2)))
    java.nio.file.Files.delete(emb)
    spark.createDataFrame(java.util.Arrays.asList(changed: _*), schema)
      .write.parquet(emb.toString)
    SessionCache.clearAll()
    val after = Similarity.pqTopK(t, 0L, 10)
    assert(after.collect().toSeq != before, "the rewrite must change the answer")
    assertSameRows(after, Similarity.pqTopKJoinForm(t, 0L, 10))
    SessionCache.clearAll() // no memo may keep a frame over the deleted dir
  }

  test("L10 PII scrub: redacts email/url/ip spans, idempotent, clean text unchanged") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "see https://a.example/path?q=1 and http://b.c/x"),
      (3L, "host at 192.168.0.1 port"),
      (4L, "clean words only"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"), col("text"),
      TextOps.scrub(col("text")).as("s"),
      TextOps.piiCount(col("text")).as("n")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("s") == "mail <EMAIL> now")
    assert(out(1L).getAs[Int]("n") == 1)
    assert(out(2L).getAs[String]("s") == "see <URL> and <URL>")
    assert(out(2L).getAs[Int]("n") == 2)
    assert(out(3L).getAs[String]("s") == "host at <IP> port")
    assert(out(3L).getAs[Int]("n") == 1)
    assert(out(4L).getAs[String]("s") == out(4L).getAs[String]("text"))
    assert(out(4L).getAs[Int]("n") == 0)
    // idempotent: a second scrub is the identity (redaction tags are clean)
    val twice = df.select(TextOps.scrub(TextOps.scrub(col("text"))).as("a"),
      TextOps.scrub(col("text")).as("b")).filter(col("a") =!= col("b"))
    assert(twice.count() == 0)
  }

  test("L4h HTML strip: entities, script/CDATA, nasty structure, density filter, declared row") {
    import graft.functions.HtmlStrip
    def s1(html: String, minTok: Int = 1, minDen: Int = 0): String =
      HtmlStrip.strip(html, minTok, minDen)._1
    // entities: named, decimal, hex, nbsp-to-space; literal & survives
    assert(s1("a &amp; b &#65;&#x42; c&nbsp;d & e") == "a & b AB c d & e")
    assert(s1("bad &unknown; &#xZZ; &#x110000; &#0; tail") ==
      "bad &unknown; &#xZZ; &#x110000; &#0; tail") // all invalid: verbatim
    // script/style removed WITH content, case-insensitive close, stray <
    assert(s1("pre<script>if (1 < 2) { x('</div>'.length) }</SCRIPT>post") == "pre post")
    assert(s1("a<style>p > div { color: red }</style>b") == "a b")
    assert(s1("a<script>never closed") == "a") // unclosed: dropped to end
    // comments emit NOTHING (not even a separator); unclosed drops the rest
    assert(s1("x<!-- <p>hidden</p> -->y") == "xy")
    assert(s1("x<!-- never closed y") == "x")
    // CDATA content verbatim (entities NOT decoded inside), unclosed kept
    assert(s1("a<![CDATA[ 1 < 2 &amp; ]]>b") == "a 1 < 2 &amp; b")
    assert(s1("a <![CDATA[rest verbatim") == "a rest verbatim")
    // nasty structure: nested + unclosed tags, quoted '>' in attributes,
    // literal '<' in text, DOCTYPE
    assert(s1("<!DOCTYPE html><div><p>a b<div>c") == "a b\nc")
    assert(s1("""x<a title="1 > 0" href='q>r'>link</a>y""") == "x link y")
    assert(s1("odd 1 < 2 stays") == "odd 1 < 2 stays")
    assert(s1("drop <em attr='never closed") == "drop") // unclosed tag: rest gone
    // block tags break paragraphs; inline tags are spaces
    assert(s1("<h1>Title</h1><p>one two</p>mid<br>tail") == "Title\none two\nmid\ntail")
    assert(s1("a<b>bold</b>c") == "a bold c")
    // min-token filter
    assert(HtmlStrip.strip("<p>x</p><p>real content</p>", 2, 0) ==
      ("real content", 2, 1))
    // density: '<div>abcdefgh</div>' attributes the closing tag (6 chars)
    // to the paragraph -> density = 8*1000/14 = 571 permille
    assert(HtmlStrip.strip("<div>abcdefgh</div>", 1, 500)._3 == 1)
    assert(HtmlStrip.strip("<div>abcdefgh</div>", 1, 600)._3 == 0)
    // operator surface + declared-query spot row (oracle constants)
    val q = graft.operators.TextOps.l4HtmlStrip(spark, sf)
      .filter(col("doc_id") === 3L).first()
    assert(q.getAs[Int]("n_paras") == 7 && q.getAs[Int]("n_kept") == 5)
    assert(q.getAs[String]("text_clean").startsWith("Doc 3\n"))
    assert(q.getAs[String]("text_clean").endsWith("\ntail words\nraw 3"))
  }

  test("L4h/L10b/L5d/L5ef scale shape: one corpus pass, no join/agg, single output-sort exchange") {
    // the "narrow, shuffle-free, scales with the scan" claims these
    // per-doc stages make are plan facts, not prose: the only exchanges
    // allowed are the final ORDER BY's range partitioning and the
    // r16 Engine.parallelFloor round-robin repartition (REPARTITION_BY_NUM
    // — present only because the fixture scan is a single row group; a
    // corpus-scale scan takes the no-op branch and the plan drops back
    // to the lone output sort). Anything keyed — a hash exchange, a
    // join, an aggregate — is still a shape violation.
    def shape(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val ex = "Exchange".r.findAllIn(plan).size
      val floorEx = "Exchange RoundRobinPartitioning".r.findAllIn(plan).size
      assert(ex - floorEx <= 1,
        s"$name: expected at most the output-sort exchange (+ the parallel-floor " +
          s"round robin), got $ex total / $floorEx floor:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name: unexpected keyed exchange:\n$plan")
      assert(!plan.contains("Join"), s"$name: unexpected join:\n$plan")
      assert(!plan.contains("HashAggregate"), s"$name: unexpected aggregate:\n$plan")
    }
    shape(TextOps.l4HtmlStrip(spark, sf), "l4_html_strip")
    shape(TextOps.l10PiiV2(spark, sf), "l10_pii_v2")
    shape(Multimodal.l5PngStats(spark, sf), "l5_png_stats")
    shape(Multimodal.l5JpegStats(spark, sf), "l5_jpeg_stats")
    shape(Multimodal.l5JpegProgressive(spark, sf), "l5_jpeg_progressive")
    shape(Multimodal.l5GifStats(spark, sf), "l5_gif_stats")
  }

  test("L10b PII v2: Luhn gate (true/false positives), E.164 phones, stage order, counts") {
    val df = Seq(
      // 4532015112830366 is Luhn-VALID; ...67 (last digit +1) is NOT and
      // a redaction of it would be a false positive
      (1L, "pay 4532015112830366 or 4532015112830367 end"),
      (2L, "call +14155552671 or +442071838750 now"),
      // a 17-digit run has no \b-delimited 16-digit candidate inside
      (3L, "id 45320151128303667 stays"),
      // + followed by 16 digits reads as E.164 (max 15 digits), the
      // documented order resolution: phone eats 15, one digit survives
      (4L, "odd +4111111111111111 case"),
      // short +7-digit run is below the E.164 minimum, must survive
      (5L, "tiny +1234567 stays"),
      (6L, "mixed a@b.example http://x.example/y 10.0.0.7 +12025550123 4111111111111111"))
      .toDF("doc_id", "text")
    val out = TextOps.piiScrubV2(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("scrubbed") == "pay <CC> or 4532015112830367 end")
    assert(out(1L).getAs[Long]("n_cc") == 1L)
    assert(out(2L).getAs[String]("scrubbed") == "call <PHONE> or <PHONE> now")
    assert(out(2L).getAs[Long]("n_phone") == 2L)
    assert(out(3L).getAs[String]("scrubbed") == "id 45320151128303667 stays")
    assert(out(3L).getAs[Long]("n_cc") == 0L)
    assert(out(4L).getAs[String]("scrubbed") == "odd <PHONE>1 case")
    assert(out(4L).getAs[Long]("n_phone") == 1L && out(4L).getAs[Long]("n_cc") == 0L)
    assert(out(5L).getAs[String]("scrubbed") == "tiny +1234567 stays")
    assert(out(5L).getAs[Long]("n_phone") == 0L)
    assert(out(6L).getAs[String]("scrubbed") ==
      "mixed <EMAIL> <URL> <IP> <PHONE> <CC>")
    assert(out(6L).getAs[Long]("n_url") == 1L && out(6L).getAs[Long]("n_email") == 1L &&
      out(6L).getAs[Long]("n_ip") == 1L && out(6L).getAs[Long]("n_phone") == 1L &&
      out(6L).getAs[Long]("n_cc") == 1L)
    // the declared query's synthesized card is Luhn-valid and redacted,
    // its +1-check-digit sibling survives: spot-check doc 7 whose card
    // derivation the oracle replays (4000000000000077)
    val q = TextOps.l10PiiV2(spark, sf).filter(col("doc_id") === 7L).first()
    val s = q.getAs[String]("scrubbed")
    assert(s.contains("card <CC> not 4000000000000078"))
    assert(q.getAs[Long]("n_cc") == 1L && q.getAs[Long]("n_phone") == 1L &&
      q.getAs[Long]("n_email") == 1L)
  }

  test("L4 Gopher rules: each rule fails on its constructed violator, fixture keep is non-degenerate") {
    val pass = "the a " + (1 to 60).map(i => f"word$i%02d").mkString(" ")
    val df = Seq(
      (1L, pass),                                            // passes every rule
      (2L, "the a cat"),                                     // too few words
      (3L, "the a " + Seq.fill(60)("0123456789012").mkString(" ")), // mean len > 10
      (4L, "the a " + (1 to 60).map(_.toString).mkString(" ")),     // digits: alpha < 80%
      (5L, (1 to 60).map(i => f"word$i%02d").mkString(" ")),        // no required stopwords
      (6L, "the a " + Seq.fill(60)("#").mkString(" ")),             // symbol-heavy
      (7L, "the a " + Seq.fill(30)("x y").mkString(" ")))           // duplicate bigrams
      .toDF("doc_id", "text")
    val m = TextOps.gopherRules(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(m(1L).getAs[Boolean]("keep"))
    assert(!m(2L).getAs[Boolean]("r_words") && !m(2L).getAs[Boolean]("keep"))
    assert(!m(3L).getAs[Boolean]("r_mean_len"))
    assert(!m(4L).getAs[Boolean]("r_alpha"))
    assert(!m(5L).getAs[Boolean]("r_stops"))
    assert(!m(6L).getAs[Boolean]("r_symbols"))
    assert(!m(7L).getAs[Boolean]("r_dup_bigram"))
    // doc 7: 62 tokens, 61 bigrams, distinct = {the a, a x, x y, y x} = 4
    assert(m(7L).getAs[Long]("dup_bigram_permille") == 1000L * 57 / 61)
    // the ruleset must discriminate on the fixture, not rubber-stamp it
    val fixture = TextOps.l4Gopher(spark, sf)
    assert(fixture.filter(col("keep")).count() > 0)
    assert(fixture.filter(!col("keep")).count() > 0)
  }

  test("L4 Gopher native kernel == declarative form on fixture + edge docs") {
    // the GopherStats one-pass kernel must reproduce the declarative
    // HOF formulation bit-for-bit — empty text (ONE empty token under
    // split-keep-empty), consecutive/leading/trailing spaces (empty
    // tokens), unicode (code-point lengths), symbol overlaps ("....."
    // scans as one "..." then loose dots), repeated bigrams
    // (10, null): the kernel emits a null STRUCT where the declarative
    // path's intermediate counters differ (n_bigrams greatest(null,1)=1,
    // sum_tok_len 0) — but every FINAL rule column nulls out identically
    // (null n_tokens denominators), which is the contract this row pins
    val edge = Seq(
      (1L, ""), (2L, " "), (3L, "a  b"), (4L, " the of "),
      (5L, "héllo wörld é́ x"), (6L, "a#b ... .... ..... #"),
      (7L, "x y x y x y"), (8L, "the"), (9L, "... the of and that"),
      (10L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assertSameRows(TextOps.gopherRules(edge),
      TextOps.gopherRulesDeclarative(edge))
    assertSameRows(TextOps.gopherRules(tables.documents),
      TextOps.gopherRulesDeclarative(tables.documents))
  }

  test("L4 Gopher plan: shuffle-free narrow pass, scan pruned to the used columns") {
    val plan = TextOps.gopherRules(tables.documents).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"gopherRules must stay a narrow per-row pass, got:\n$plan")
    // only doc_id + text reach the scan — n_chars/lang/source are pruned
    val scan = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("doc_id") && scan.contains("text") && !scan.contains("n_chars"),
      s"scan not pruned: $scan")
  }

  test("L4 CCNet buckets: exact 30/30/40 shares, rank is a permutation, NLL ordered by rank") {
    val out = TextOps.l4CcnetBuckets(spark, sf).collect()
    val n = out.length
    assert(n == tables.documents.count())
    val byBucket = out.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length).toMap
    def share(loTenth: Int, hiTenth: Int): Int =
      (1 to n).count(r => { val t = (r - 1) * 10 / n; t >= loTenth && t < hiTenth })
    assert(byBucket("head") == share(0, TextOps.CcnetHeadTenths))
    assert(byBucket("middle") == share(TextOps.CcnetHeadTenths,
      TextOps.CcnetHeadTenths + TextOps.CcnetMiddleTenths))
    assert(byBucket("tail") == n - byBucket("head") - byBucket("middle"))
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq == (1 to n).map(_.toLong))
    // rank order IS nll order (ties by doc_id): nll never decreases with rank
    val byRank = out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("nll_micro"))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
  }

  test("L1d paragraph dedup: first occurrence wins, reassembly order, short docs") {
    import graft.operators.Dedup
    // three 12-token paragraphs; A appears in docs 1 and 3, B in 1 and
    // 2, D twice INSIDE doc 4 — only each paragraph's lexicographic
    // (doc, position) first occurrence survives
    def para(w: String) = (1 to 12).map(i => s"$w$i").mkString(" ")
    val (a, b, c, d) = (para("a"), para("b"), para("c"), para("d"))
    val docs = Seq(
      (1L, s"$a $b"),       // keeps A (p0), B (p1)
      (2L, s"$b $c"),       // B dropped (doc1 wins), keeps C
      (3L, a),              // A dropped
      (4L, s"$d $d"),       // within-doc repeat: first D kept
      (5L, "short text")    // < 12 tokens: one paragraph, kept
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs).orderBy(col("doc_id")).collect()
    def md5Of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = Seq(
      (1L, 2L, 2L, md5Of(s"$a $b")),
      (2L, 2L, 1L, md5Of(c)),
      (3L, 1L, 0L, md5Of("")),
      (4L, 2L, 1L, md5Of(d)),
      (5L, 1L, 1L, md5Of("short text")))
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      == expect)
    // winner is (doc, position) lexicographic: a LATER position in an
    // EARLIER doc beats an earlier position in a later doc
    val docs2 = Seq((7L, s"$c $a"), (9L, s"$a $c")).toDF("doc_id", "text")
    val out2 = Dedup.paragraphDedup(docs2).orderBy(col("doc_id")).collect()
    assert(out2(0).getLong(2) == 2L && out2(1).getLong(2) == 0L)
    // reassembly preserves position order across a dropped middle
    // paragraph: doc keeps p0 and p2, digest must be "A C" not "C A"
    val docs3 = Seq((1L, b), (2L, s"$a $b $c")).toDF("doc_id", "text")
    val out3 = Dedup.paragraphDedup(docs3).orderBy(col("doc_id")).collect()
    assert(out3(1).getString(3) == md5Of(s"$a $c"))
    // layout invariance: repartitioning must not move winners
    val rep = Dedup.paragraphDedup(docs.repartition(7)).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(rep == out.map(r => (r.getLong(0), r.getString(3))).toSeq)
  }

  test("L1 dup-span coverage: overlap merges, cross-doc detection, short docs exempt") {
    val run = (1 to 9).map(i => s"s$i").mkString(" ") // 9 words = 2 overlapping 8-spans
    val df = Seq(
      (1L, run + " " + (1 to 30).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"b$i").mkString(" ") + " " + run),
      (3L, (1 to 20).map(i => s"c$i").mkString(" ")), // no shared content
      (4L, run + " d1 d2"),                           // mostly duplicated → dropped
      (5L, "e1 e2"))                                  // shorter than one span
      .toDF("doc_id", "text")
    val m = Dedup.dupSpanCoverage(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the 9-word shared run = spans at p and p+1; interval-merged cover = 9, not 16
    Seq(1L, 2L, 4L).foreach { id =>
      assert(m(id).getAs[Long]("n_dup_spans") == 2L, s"doc $id")
      assert(m(id).getAs[Long]("covered_tokens") == 9L, s"doc $id")
    }
    assert(m(1L).getAs[Long]("dup_coverage_permille") == 9000L / 39)
    assert(m(1L).getAs[Boolean]("keep")) // 230‰ ≤ 300‰
    assert(!m(4L).getAs[Boolean]("keep")) // 9/11 = 818‰
    Seq(3L, 5L).foreach { id =>
      assert(m(id).getAs[Long]("covered_tokens") == 0L)
      assert(m(id).getAs[Boolean]("keep"))
    }
    // a WITHIN-doc repeat is also a duplicated span (global count > 1)
    val self = Seq((1L, ((1 to 8) ++ (1 to 8)).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sm = Dedup.dupSpanCoverage(self).collect().head
    assert(sm.getAs[Long]("covered_tokens") == 16L) // both copies covered
    assert(sm.getAs[Long]("dup_coverage_permille") == 1000L)
  }

  test("L1c ExactSubstr removal: first occurrence survives, later ones cut, union of overlaps") {
    // n = 3 keeps the hand cases small; semantics are span-length-generic
    val df = Seq(
      (1L, "a b c x y"),   // canonical "a b c" @ (1,1) — untouched
      (2L, "q a b c r"),   // non-canonical @ p2 → positions 2..4 removed
      (3L, "z z z z"),     // within-doc repeat: canonical @ p1, p2 cut → "z" kept
      (4L, "w w"),         // shorter than one span — exempt
      (5L, "a b c"),       // whole doc duplicated → emptied
      (6L, "a b c"))       // ditto
      .toDF("doc_id", "text")
    val m = Dedup.substrDedup(df, n = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
         r.getAs[String]("text_clean")))).toMap
    assert(m == Map(
      1L -> ((5L, 0L, "a b c x y")),
      2L -> ((5L, 3L, "q r")),
      3L -> ((4L, 3L, "z")),
      4L -> ((2L, 0L, "w w")),
      5L -> ((3L, 3L, "")),
      6L -> ((3L, 3L, ""))))
    // fixture invariant: removal positions are a subset of the coverage
    // positions (coverage counts canonical occurrences too), so per doc
    // n_removed ≤ covered_tokens — and the corpus genuinely shrinks
    val rm = Dedup.substrDedup(tables.documents)
      .select(col("doc_id"), col("n_removed"))
    val cov = Dedup.dupSpanCoverage(tables.documents)
      .select(col("doc_id"), col("covered_tokens"))
    val joined = rm.join(cov, "doc_id").collect()
    assert(joined.nonEmpty && joined.forall(r =>
      r.getAs[Long]("n_removed") <= r.getAs[Long]("covered_tokens")))
    assert(joined.map(_.getAs[Long]("n_removed")).sum > 0L)
    // twin-honesty pin: the explode-everything draft works over the TRUE
    // span strings where the engine keys on xxhash64 — equality also
    // re-confirms the no-collision contract on the fixture
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l1_substr_dedup"),
      Dedup.l1SubstrDedup(spark, sf))
    // fixpoint twin-honesty pin: the iterated explode-everything loop
    // lands on the same fixpoint (engine `rounds` column dropped — the
    // twin doesn't report it)
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l1_substr_dedup_fix"),
      Dedup.l1SubstrDedupFix(spark, sf).drop("rounds"))
    // PII v2 twin-honesty pin: the UDF-validated vanilla chain answers
    // identically (same patterns, same staged order, same Luhn rule)
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l10_pii_v2"),
      graft.operators.TextOps.l10PiiV2(spark, sf))
    // video twin-honesty pin: the UDF+explode vanilla chain decodes the
    // same corpus to the same rows (shared codec kernels; the twin
    // prices only the row-at-a-time plumbing)
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l5_video_frames"),
      graft.operators.Multimodal.l5VideoFrames(spark, sf))
    // approx-percentile twin-honesty pin: built-ins both sides
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "a6_stats_approx"),
      graft.operators.Relational.a6StatsApproxChecked(spark, sf))
    // MPEG-1 twin-honesty pins: the UDF+explode chains decode the same
    // corpora to the same rows (shared codec kernel, null-row parity)
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l5_mpeg1_frames"),
      graft.operators.Multimodal.l5Mpeg1Frames(spark, sf))
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l5_mpeg1p_frames"),
      graft.operators.Multimodal.l5Mpeg1PFrames(spark, sf))
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l5_mpeg1b_frames"),
      graft.operators.Multimodal.l5Mpeg1BFrames(spark, sf))
    // partitioning invariance: first-occurrence selection is a
    // partial-combinable min over (doc_id, p) — layout cannot flip it
    assertSameRows(Dedup.substrDedup(tables.documents.repartition(7)),
      Dedup.substrDedup(tables.documents))
  }

  test("L1c fixpoint: pass 2 removes a pass-1-created adjacency; output idempotent") {
    // removal of (p,q,r) from doc 2 makes "x y z" adjacent — a NEW
    // duplicated 3-gram (vs doc 3) the single pass never saw
    val df = Seq(
      (1L, "p q r"),         // canonical (p,q,r)
      (2L, "x p q r y z"),   // pass 1: drop (p,q,r)@2 → "x y z"
      (3L, "x y z"))         // pass 2: now non-canonical vs rewritten doc 2
      .toDF("doc_id", "text")
    // single pass misses the created adjacency: doc 3 survives untouched
    val single = Dedup.substrDedup(df, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_clean")).toMap
    assert(single(2L) == "x y z" && single(3L) == "x y z")
    val fix = Dedup.substrDedupConverged(df, n = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
         r.getAs[Int]("rounds"), r.getAs[String]("text_clean")))).toMap
    assert(fix == Map(
      1L -> ((3L, 0L, 2, "p q r")),
      2L -> ((6L, 3L, 2, "x y z")),
      3L -> ((3L, 3L, 2, ""))))
    // idempotence at the fixed point: a further pass removes nothing
    val again = Dedup.substrDedup(
      fix.toSeq.map { case (id, (_, _, _, t)) => (id, t) }.toDF("doc_id", "text"),
      n = 3).collect()
    assert(again.forall(_.getAs[Long]("n_removed") == 0L))
    // fixture: fixpoint dominates the single pass per doc and is itself
    // idempotent (works whether or not the fixture converges in 1 pass)
    val fx = Dedup.substrDedupConverged(tables.documents).materialize()
    val sp = Dedup.substrDedup(tables.documents)
      .select(col("doc_id"), col("n_removed").as("sp_removed"))
    val j = fx.join(sp, "doc_id").collect()
    assert(j.nonEmpty && j.forall(r =>
      r.getAs[Long]("n_removed") >= r.getAs[Long]("sp_removed")))
    val fxAgain = Dedup.substrDedup(
      fx.select(col("doc_id"), col("text_clean").as("text"))).collect()
    assert(fxAgain.forall(_.getAs[Long]("n_removed") == 0L))
  }

  test("l4_gopher vanilla twin computes the engine's answer (twin-honesty pin)") {
    // explode+window+join-back naive formulation vs the engine's single
    // narrow projection: all-integer outputs, so the pin is exact
    assertSameRows(graft.TailTwins.twinFrame(spark, sf, "l4_gopher"),
      TextOps.l4Gopher(spark, sf))
  }
}
