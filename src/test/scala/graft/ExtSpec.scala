package graft

import org.apache.spark.sql.functions._
import graft.ext.{Similarity, TextOps}
import graft.ops.Ops

/** Semantics tests for the newest extension operators: IVF ANN and
  * winnowing fingerprints. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: conserved mass, importance ordering, edge hygiene; degreeStats exact") {
    import graft.ext.GraphOps
    // 1→2, 1→3, 2→3, 3→1: every node has out-edges so no mass leaks;
    // node 3 collects from two sources and must rank highest
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank("src", "dst", iterations = 10)(edges)
      .orderBy("node").collect()
    val ranks = pr.map(_.getDouble(1))
    assert(math.abs(ranks.sum - 1.0) < 1e-9, s"mass ${ranks.sum}")
    assert(ranks.forall(_ > 0))
    assert(ranks(2) > ranks(0) && ranks(0) > ranks(1),
      s"expected rank(3) > rank(1) > rank(2), got ${ranks.toSeq}")
    // duplicate edges and self-loops change nothing
    val noisy = edges.unionByName(
      Seq((1L, 2L), (2L, 2L)).toDF("src", "dst"))
    val pr2 = GraphOps.pageRank("src", "dst", iterations = 10)(noisy)
      .orderBy("node").collect().map(_.getDouble(1))
    assert(pr2.toSeq === ranks.toSeq)
    // dangling node: 4 receives but never links out; its mass leaks,
    // total < 1, everything still positive
    val dangle = edges.unionByName(Seq((1L, 4L)).toDF("src", "dst"))
    val pr3 = GraphOps.pageRank("src", "dst", iterations = 10)(dangle)
      .orderBy("node").collect().map(_.getDouble(1))
    assert(pr3.sum < 1.0 && pr3.forall(_ > 0))
    val deg = GraphOps.degreeStats("src", "dst")(dangle)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(deg.toSeq === Seq((1L, 3L, 1L, 4L), (2L, 1L, 1L, 2L),
      (3L, 1L, 2L, 3L), (4L, 0L, 1L, 1L)))
  }

  test("trainLinearWeights: trained quantized model separates classes through linearTextScore") {
    import graft.ext.TextOps
    val rnd = new scala.util.Random(11)
    val good = Vector("data", "spark", "query", "table", "join")
    val bad = Vector("click", "buy", "free", "winner", "now")
    val neutral = Vector("the", "a", "of", "and")
    def doc(vocab: Vector[String]) = (0 until 12).map(_ =>
      if (rnd.nextInt(3) == 0) neutral(rnd.nextInt(neutral.size))
      else vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val labeled = ((1 to 60).map(i => (i.toLong, doc(good), 1.0)) ++
      (61 to 120).map(i => (i.toLong, doc(bad), 0.0)))
      .toDF("doc_id", "text", "label")
    val (weights, bias) = TextOps.trainLinearWeights(
      "text", "label", vocabSize = 50, scale = 100.0, maxN = 1)(labeled)
    assert(weights.nonEmpty)
    // serve the trained model through the inference kernel: the
    // decision boundary (threshold 0) must separate the training set
    val scored = TextOps.linearTextScore("doc_id", "text",
      weights, bias = bias, threshold = 0.0, maxN = 1)(labeled)
      .join(labeled.select("doc_id", "label"), "doc_id")
    val acc = scored.filter(
      (col("pass") && col("label") === 1.0) ||
        (!col("pass") && col("label") === 0.0)).count()
    assert(acc >= 114, s"trained model separates only $acc/120") // ≥95%
    // signal direction: good-vocab grams carry positive weight,
    // bad-vocab negative (for those that survived quantization)
    val w = weights.toMap
    assert(good.flatMap(w.get).forall(_ > 0))
    assert(bad.flatMap(w.get).forall(_ < 0))
  }

  test("learnBpeMerges: hand-checked greedy pair merges, ties, overlap, inference round-trip") {
    import graft.ext.TextOps
    // aa×3 + ab×1: (a,a) dominates, then (a,b)
    val docs = Seq("aa ab aa", "aa").toDF("text")
    val m = TextOps.learnBpeMerges("text", numMerges = 2)(docs)
    assert(m === Seq(("a", "a"), ("a", "b")))
    // overlapping pairs: 'aaa' counts (a,a) twice but merges
    // left-to-right non-overlapping -> [aa, a], next merge (aa, a)
    val m2 = TextOps.learnBpeMerges("text", numMerges = 2)(
      Seq("aaa").toDF("text"))
    assert(m2 === Seq(("a", "a"), ("aa", "a")))
    // tie at equal counts goes to the lexicographically smallest pair
    val m3 = TextOps.learnBpeMerges("text", numMerges = 1)(
      Seq("ab ba").toDF("text"))
    assert(m3 === Seq(("a", "b")))
    // exhaustion: asking for more merges than exist stops cleanly
    val m4 = TextOps.learnBpeMerges("text", numMerges = 10)(
      Seq("ab").toDF("text"))
    assert(m4 === Seq(("a", "b")))
    // the learned table is rank-consistent by construction: the
    // inference kernels accept it and merged words bill fewer tokens
    val learned = TextOps.learnBpeMerges("text", numMerges = 4)(docs)
    val counts = docs.select(
      TextOps.bpeTokenCount(col("text"), learned).as("n"))
      .as[Long].collect()
    assert(counts.toSeq === Seq(3L, 1L)) // every word one piece now
  }

  test("labelPropagation: clique communities, isolated keep own id, determinism") {
    import graft.ext.GraphOps
    def clique(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a < b
    } yield (a, b)
    // two disconnected 4-cliques: each collapses to its min id
    val two = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L))).toDF("src", "dst")
    val r = GraphOps.labelPropagation("src", "dst", rounds = 5)(two)
      .orderBy("node").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.filter(_._1 < 10).map(_._2).distinct.toSeq === Seq(1L))
    assert(r.filter(_._1 >= 10).map(_._2).distinct.toSeq === Seq(10L))
    // a bridge between the cliques still yields two communities —
    // the thing connectedComponents cannot see (one component)
    val bridged = two.unionByName(Seq((4L, 10L)).toDF("src", "dst"))
    val rb = GraphOps.labelPropagation("src", "dst", rounds = 5)(bridged)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(rb.map(_._2).distinct.length === 2)
    assert(rb.filter(_._1 <= 3).map(_._2).distinct.length === 1)
    assert(rb.filter(_._1 >= 11).map(_._2).distinct.length === 1)
    // self-loops/NULLs drop; an isolated (self-loop-only) node is
    // absent; direction is erased
    val loops = Seq((1L, 2L), (2L, 1L), (3L, 3L)).toDF("src", "dst")
    val rl = GraphOps.labelPropagation("src", "dst", rounds = 3)(loops)
      .orderBy("node").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(rl.map(_._1).toSeq === Seq(1L, 2L))
    assert(rl.map(_._2).distinct.toSeq === Seq(1L))
    // rerun-identical (deterministic election) even repartitioned
    val a1 = GraphOps.labelPropagation("src", "dst", rounds = 4)(bridged)
      .orderBy("node").collect().toSeq
    val a2 = GraphOps.labelPropagation("src", "dst", rounds = 4)(
      bridged.repartition(5)).orderBy("node").collect().toSeq
    assert(a1.map(_.toSeq) === a2.map(_.toSeq))
    intercept[IllegalArgumentException](
      GraphOps.labelPropagation("src", "dst", rounds = 0)(two))
  }

  test("oovRate: token vs type rates, repeated rare word, vocab dedup, null text") {
    import graft.ext.TextOps
    val vocab = Seq("a", "b", "b").toDF("tok") // dup collapses
    val docs = Seq(
      (1L, Option("a b a c")),     // 4 tokens 1 oov; 3 types 1 oov type
      (2L, Option("a z z z")),     // stream rate 3/4 but TYPE rate 1/2
      (3L, Option.empty[String]))  // null text → [''] → 1 oov token
      .toDF("doc_id", "text")
    val out = TextOps.oovRate(vocab, "doc_id", "text")(docs)
      .orderBy("doc_id").collect()
    val d1 = out(0)
    assert(d1.getAs[Long]("n_tokens") === 4L && d1.getAs[Long]("n_oov") === 1L)
    assert(d1.getAs[Double]("oov_rate") === 0.25)
    assert(d1.getAs[Long]("n_types") === 3L &&
      d1.getAs[Long]("n_oov_types") === 1L)
    assert(d1.getAs[Double]("oov_type_rate") === 1.0 / 3.0)
    val d2 = out(1)
    assert(d2.getAs[Double]("oov_rate") === 0.75 &&
      d2.getAs[Double]("oov_type_rate") === 0.5)
    val d3 = out(2)
    assert(d3.getAs[Long]("n_tokens") === 1L &&
      d3.getAs[Double]("oov_rate") === 1.0)
    intercept[IllegalArgumentException](
      TextOps.oovRate(vocab.withColumn("x", lit(1)), "doc_id", "text")(docs))
  }

  test("modularity: hand Q on two triangles, trivial partition zero, unlabeled drop") {
    import graft.ext.GraphOps
    // two triangles + a bridge: m = 7, each triangle e_c = 3, d_c = 7
    // → Q = 2·(3/7 − (7/14)²) = 6/7 − 1/2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("node", "community")
    val out = GraphOps.modularity(labels)(edges).orderBy("community")
      .collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("internal_edges")).toSeq === Seq(3L, 3L))
    assert(out.map(_.getAs[Long]("degree_sum")).toSeq === Seq(7L, 7L))
    assert(out.map(_.getAs[Long]("nodes")).toSeq === Seq(3L, 3L))
    val q = out.head.getAs[Double]("modularity")
    assert(math.abs(q - (6.0 / 7.0 - 0.5)) < 1e-15)
    assert(out.forall(_.getAs[Double]("modularity") === q))
    // the trivial everything-in-one-community partition scores exactly 0
    val one = labels.select(col("node"), lit(1L).as("community"))
    assert(GraphOps.modularity(one)(edges).head()
      .getAs[Double]("modularity") === 0.0)
    // edges with an unlabeled endpoint drop from m; reciprocal/self
    // duplicates collapse
    val noisy = edges.unionByName(Seq((6L, 99L), (2L, 1L), (3L, 3L))
      .toDF("src", "dst"))
    val n = GraphOps.modularity(labels)(noisy).orderBy("community")
      .collect()
    assert(n.map(_.getAs[Long]("internal_edges")).toSeq === Seq(3L, 3L))
    assert(math.abs(n.head.getAs[Double]("modularity") -
      (6.0 / 7.0 - 0.5)) < 1e-15)
    // LPA on this graph finds the two triangles and Q agrees
    val lpa = GraphOps.labelPropagation("src", "dst", rounds = 5)(edges)
    val viaLpa = GraphOps.modularity(lpa)(edges)
    assert(viaLpa.count() === 2L)
    assert(math.abs(viaLpa.head().getAs[Double]("modularity") -
      (6.0 / 7.0 - 0.5)) < 1e-15)
    // every LABELED community emits a row: an edgeless community
    // carries zeros and contribution 0, and edgeless members count in
    // `nodes` (code-review finding: edge-endpoint-derived nodes
    // undercounted and dropped such communities entirely)
    val withGhost = labels.unionByName(
      Seq((7L, 10L), (97L, 30L), (98L, 30L)).toDF("node", "community"))
    val g = GraphOps.modularity(withGhost)(edges).orderBy("community")
      .collect()
    assert(g.map(_.getAs[Long]("community")).toSeq === Seq(10L, 20L, 30L))
    assert(g(0).getAs[Long]("nodes") === 4L) // edgeless member 7 counts
    assert(g(2).getAs[Long]("nodes") === 2L &&
      g(2).getAs[Long]("internal_edges") === 0L &&
      g(2).getAs[Long]("degree_sum") === 0L &&
      g(2).getAs[Double]("contribution") === 0.0)
    // an edge-free labeled graph scores exactly 0, not NaN
    val noEdges = GraphOps.modularity(labels)(
      edges.filter(col("src") < 0)).orderBy("community").collect()
    assert(noEdges.length === 2 &&
      noEdges.forall(_.getAs[Double]("modularity") === 0.0))
    // the one-row-per-node contract is enforced (r15 ADVICE): exact
    // duplicate rows collapse harmlessly...
    val dupRows = labels.unionByName(labels.limit(2))
    val dq = GraphOps.modularity(dupRows)(edges).orderBy("community")
      .collect()
    assert(dq.map(_.getAs[Long]("internal_edges")).toSeq === Seq(3L, 3L) &&
      math.abs(dq.head.getAs[Double]("modularity") -
        (6.0 / 7.0 - 0.5)) < 1e-15)
    // ...but a node labeled into TWO communities fails loudly instead
    // of silently multiplying edges through the label joins
    val conflicted = labels.unionByName(
      Seq((3L, 20L)).toDF("node", "community"))
    val ex = intercept[Exception] {
      GraphOps.modularity(conflicted)(edges).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("labeled into multiple communities")),
      s"expected the contract guard, got: ${msgs(ex).mkString(" | ")}")
  }

  test("linkPrediction: wedge scores, adjacency exclusion, hub cap, direction erasure") {
    import graft.ext.GraphOps
    // path 1-2-3: (1,3) is the only distance-2 pair — cn 1 via apex 2
    // (deg 2), jaccard 1/(1+1-1) = 1, ra = 1/2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = GraphOps.linkPrediction("src", "dst")(path).collect()
    assert(p.length === 1)
    assert(p(0).getLong(0) === 1L && p(0).getLong(1) === 3L &&
      p(0).getLong(2) === 1L && p(0).getDouble(3) === 1.0 &&
      p(0).getDouble(4) === 0.5)
    // square 1-2-3-4-1: diagonals share TWO neighbors (ra = 1), and
    // minCommon = 2 keeps exactly them
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val sq = GraphOps.linkPrediction("src", "dst", minCommon = 2)(square)
      .orderBy("node_a", "node_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(sq.toSeq === Seq((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
    // a triangle predicts nothing (every 2-hop pair is adjacent)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(GraphOps.linkPrediction("src", "dst")(tri).count() === 0L)
    // hub cap: a star's only apex exceeds maxDegree -> no wedges
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    assert(GraphOps.linkPrediction("src", "dst")(star).count() === 3L)
    assert(GraphOps.linkPrediction("src", "dst", maxDegree = 2)(star)
      .count() === 0L)
    // direction is erased: reversing every edge changes nothing
    val rev = GraphOps.linkPrediction("src", "dst")(
      path.select(col("dst").as("src"), col("src").as("dst"))).collect()
    assert(rev.length === 1 && rev(0).getDouble(4) === 0.5)
    intercept[IllegalArgumentException](
      GraphOps.linkPrediction("src", "dst", minCommon = 0)(path))
  }

  test("hits: L1-normalized roles, hub/authority split, exactOrder parity") {
    import graft.ext.GraphOps
    // 1→3, 2→3: node 3 is the sole authority; 1 and 2 split hub mass
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("src", "dst")
    val h = GraphOps.hits("src", "dst")(edges).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(h.toSeq === Seq((1L, 0.5, 0.0), (2L, 0.5, 0.0),
      (3L, 0.0, 1.0)))
    // both scores are L1-normalized every round
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
      .toDF("src", "dst")
    val c = GraphOps.hits("src", "dst", iterations = 5)(chain).collect()
    assert(math.abs(c.map(_.getDouble(1)).sum - 1.0) < 1e-12)
    assert(math.abs(c.map(_.getDouble(2)).sum - 1.0) < 1e-12)
    // duplicate edges and self-loops change nothing
    val noisy = chain.unionByName(Seq((1L, 2L), (2L, 2L)).toDF("src", "dst"))
    val cn = GraphOps.hits("src", "dst", iterations = 5)(noisy)
      .orderBy("node").collect().map(_.getDouble(2))
    assert(cn.toSeq === c.sortBy(_.getLong(0)).map(_.getDouble(2)).toSeq)
    // production order-free mode agrees to rounding
    val exact = GraphOps.hits("src", "dst", iterations = 4)(chain)
      .orderBy("node").collect().map(_.getDouble(2))
    val free = GraphOps.hits("src", "dst", iterations = 4,
      exactOrder = false)(chain)
      .orderBy("node").collect().map(_.getDouble(2))
    exact.zip(free).foreach { case (e, f) =>
      assert(math.abs(e - f) <= 1e-12 * math.max(1.0, math.abs(e))) }
    intercept[IllegalArgumentException](
      GraphOps.hits("src", "dst", iterations = 0)(edges))
  }

  test("weighted pageRank: unit weights equal the plain form; heavy edges shift rank") {
    import graft.ext.GraphOps
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val unitW = edges.withColumn("w", lit(1.0))
    val plain = GraphOps.pageRank("src", "dst", iterations = 5)(edges)
      .orderBy("node").collect().map(_.getDouble(1))
    val viaW = GraphOps.pageRank("src", "dst", iterations = 5,
      weightField = "w")(unitW)
      .orderBy("node").collect().map(_.getDouble(1))
    assert(plain.toSeq === viaW.toSeq) // r·1.0/Σ1 ≡ r/outdeg bitwise
    // tilt node 1's vote 9:1 toward node 2 — rank(2) must overtake
    val tilted = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 3L, 1.0),
      (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val t = GraphOps.pageRank("src", "dst", iterations = 5,
      weightField = "w")(tilted)
      .orderBy("node").collect().map(_.getDouble(1))
    assert(t(1) > viaW(1), "heavier in-edge must raise rank(2)")
    // multi-edges SUM their weights: two 4.5s equal one 9
    val split = Seq((1L, 2L, 4.5), (1L, 2L, 4.5), (1L, 3L, 1.0),
      (2L, 3L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val sp = GraphOps.pageRank("src", "dst", iterations = 5,
      weightField = "w")(split)
      .orderBy("node").collect().map(_.getDouble(1))
    assert(sp.toSeq === t.toSeq)
  }

  test("compressionSignal: deterministic, separates boilerplate from noise, edge discipline") {
    import graft.ext.TextOps
    val rnd = new scala.util.Random(7)
    val noise = (1 to 2000).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val df = Seq(
      (1L, "spam spam spam " * 200),         // boilerplate: compresses hard
      (2L, noise),                           // high entropy: barely
      (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.compressionSignal("doc_id", "text")(df)
      .orderBy("doc_id").collect()
    val spamRatio = out(0).getDouble(3)
    val noiseRatio = out(1).getDouble(3)
    assert(spamRatio < 0.05, s"boilerplate ratio $spamRatio")
    assert(noiseRatio > 0.5, s"noise ratio $noiseRatio")
    assert(out(2).getInt(1) === 0 && out(2).isNullAt(3)) // empty -> NULL ratio
    assert(out(3).isNullAt(1) && out(3).isNullAt(3))     // NULL text
    // rerun-identical (fresh plan, fresh threads)
    val again = TextOps.compressionSignal("doc_id", "text")(df)
      .orderBy("doc_id").collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("urlParts + registeredDomain: suffix rule, bare hosts, missing parts, NULLs") {
    import graft.ext.TextOps
    val df = Seq(
      (1L, "https://www.bbc.co.uk/news/uk?id=7"),
      (2L, "http://example.com"),           // no path, no query
      (3L, "https://localhost/x"),          // single-label host
      (4L, "ftp://a.b.example.com.au/f"),   // deep host, SLS
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "url")
    val out = TextOps.urlParts("doc_id", "url")(df).orderBy("doc_id")
      .collect()
    assert(out(0).getString(1) === "https" &&
      out(0).getString(2) === "www.bbc.co.uk" &&
      out(0).getString(3) === "bbc.co.uk" &&
      out(0).getString(4) === "/news/uk" &&
      out(0).getString(5) === "id=7")
    assert(out(1).getString(3) === "example.com")
    assert(out(1).isNullAt(5))              // no query -> NULL
    assert(out(2).getString(3) === "localhost")
    assert(out(3).getString(3) === "example.com.au")
    assert((1 to 5).forall(out(4).isNullAt)) // NULL url -> NULL parts
  }

  private def vecs = Seq(
    // two tight clusters on orthogonal axes + ids 0,1 as "centroids"
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.8f, 0.2f, 0.0f, 0.0f)),
    (4L, Array(0.1f, 0.9f, 0.0f, 0.0f)),
    (5L, Array(0.2f, 0.8f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("ivfTopK finds cluster-mates with nprobe=1") {
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      k = 2, nCentroids = 2, nprobe = 1)
      .select("query_id", "item_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val top1 = out.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    // within the x-axis cell {0,2,3}: 2's nearest is the axis vector 0,
    // 3's nearest is 2 (cos(3,2)=.991 > cos(3,0)=.970); mirrored on y
    assert(top1(2L) === 0L && top1(3L) === 2L)
    assert(top1(4L) === 1L && top1(5L) === 4L)
    // no query ranks itself
    assert(out.forall(t => t._1 != t._2))
  }

  test("ivfTopK nprobe=2 reaches across cells") {
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      k = 5, nCentroids = 2, nprobe = 2)
    // probing both cells makes every other vector a candidate
    assert(out.filter($"query_id" === 2L).count() === 5)
  }

  test("ivfSave/ivfLoad round-trips through the store layer with no retrain") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    try {
      val built = Similarity.ivfBuild(vecs, "vec_id", "embedding",
        Similarity.standinCentroids(vecs, "vec_id", "embedding", 2), nprobe = 2)
      val store = graft.sources.ParquetStore(spark, dir)
      Similarity.ivfSave(built, store, "ann")
      val loaded = Similarity.ivfLoad(store, "ann")
      // the loaded index answers every query identically to the built one
      val a = Similarity.ivfQuery(built, k = 3)
        .orderBy("query_id", "rank").collect()
      val b = Similarity.ivfQuery(loaded, k = 3)
        .orderBy("query_id", "rank").collect()
      assert(a === b)
      // no retrain on load: the loaded ranking is a pure relation scan —
      // the BUILD plan's centroid crossJoin/window never reappears
      // (analyzed plans: the optimizer substitutes the built side's
      // cached blocks, which would hide its Join)
      import org.apache.spark.sql.catalyst.plans.logical.Join
      assert(loaded.ranked.queryExecution.analyzed.collect {
        case j: Join => j }.isEmpty)
      assert(built.ranked.queryExecution.analyzed.collect {
        case j: Join => j }.nonEmpty)
      built.unpersist(); loaded.unpersist()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("kmeans-trained centroids drive IVF to near-exact top-1 recall") {
    // three well-separated clusters; k-means should recover them, and
    // with nprobe=1 each query's true nearest neighbor then lives in its
    // own cell — recall vs brute force close to 1 (the trained-centroid
    // path the stand-in advertises; oracle keeps the stand-in)
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array.tabulate(16)(d => if (d < 5) 1.0f else 0.0f),
      Array.tabulate(16)(d => if (d >= 5 && d < 10) 1.0f else 0.0f),
      Array.tabulate(16)(d => if (d >= 10) 1.0f else 0.0f))
    val points = (0 until 30).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(points, "embedding", k = 3)
    assert(trained.count() === 3)
    val ivf = Similarity.ivfTopK(points, "vec_id", "embedding",
      k = 1, nprobe = 1, centroids = Some(trained))
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val brute = Similarity.bruteForceTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding", k = 1)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => ivf.get(q).contains(nn) }
    assert(hits >= 27, s"IVF top-1 recall too low: $hits/30")
  }

  test("pqTopK: byte codes + the ADC pool recover brute-force top-1 on clusters") {
    val rnd = new scala.util.Random(13)
    val centers = Seq(
      Array.tabulate(16)(d => if (d < 5) 1.0f else 0.0f),
      Array.tabulate(16)(d => if (d >= 5 && d < 10) 1.0f else 0.0f),
      Array.tabulate(16)(d => if (d >= 10) 1.0f else 0.0f))
    val points = (0 until 30).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(points, "embedding", k = 3)
    // codes are one id-sorted centroid position per subspace
    val codes = Similarity.pqEncode("embedding", cents, "cid", "center",
      m = 4)(points).select("pq_codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 3)))
    // snapping corpus vectors to 3 sub-centroids per subspace keeps each
    // cluster's members ahead of other clusters in ADC order, so the
    // exact rerank of the 10-candidate pool recovers the true top-1
    val pq = Similarity.pqTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding", cents, "cid", "center",
      m = 4, k = 1, rerank = 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val brute = Similarity.bruteForceTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding", k = 1)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => pq.get(q).contains(nn) }
    assert(hits >= 27, s"PQ top-1 recall too low: $hits/30")
  }

  test("pqCodebooks: per-subspace training beats sliced full-dim centroids at equal budget") {
    // Subspaces with INDEPENDENT cluster structure — the case real PQ
    // exists for: each half of the vector independently picks one of 4
    // patterns, so the joint space has 16 combinations. Four full-dim
    // centroids can represent only 4 of them (their slices leave
    // patterns uncovered in each subspace); four PER-SUBSPACE codebook
    // entries cover every pattern in both subspaces exactly. The
    // distortion (summed per-subspace argmin squared-L2 — precisely
    // what pqEncode minimizes over the codebook it is given) must
    // therefore drop materially under per-subspace training.
    val rnd = new scala.util.Random(17)
    val patterns = Array(
      Array(1.0f, 0.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f, 0.0f),
      Array(0.0f, 0.0f, 1.0f, 0.0f), Array(0.0f, 0.0f, 0.0f, 1.0f))
    val points = (0 until 64).map { i =>
      val a = patterns(i % 4); val b = patterns((i / 4) % 4)
      (i.toLong, (a ++ b).map(v => v + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val m = 2; val sub = 4
    val perSub = Similarity.pqCodebooks(points, "embedding", m = m, k = 4)
    val fullDim = Similarity.kmeansCentroids(points, "embedding", k = 4)
    def distortion(cb: org.apache.spark.sql.DataFrame): Double = {
      val centers = cb.select($"center").as[Seq[Float]].collect()
      val pts = points.select($"embedding").as[Seq[Float]].collect()
      pts.map { p =>
        (0 until m).map { s =>
          centers.map { c =>
            (0 until sub).map { j =>
              val d = p(s * sub + j).toDouble - c(s * sub + j)
              d * d
            }.sum
          }.min
        }.sum
      }.sum / pts.length
    }
    val dPer = distortion(perSub)
    val dSliced = distortion(fullDim)
    assert(perSub.count() === 4)
    // covering all 4 patterns per subspace vs at most 4 joint combos:
    // the win must be structural (>= 2x), not a seed accident
    assert(dPer < dSliced / 2,
      s"per-subspace distortion $dPer not well below sliced $dSliced")
    // and the trained frame drops straight into the PQ engine: with
    // every pattern covered, ADC ranks cluster-mates ahead of the rest
    val pq = Similarity.pqTopK(points, "vec_id", "embedding",
      points.filter($"vec_id" < 8), "vec_id", "embedding",
      perSub, "cid", "center", m = m, k = 1, rerank = 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val brute = Similarity.bruteForceTopK(points, "vec_id", "embedding",
      points.filter($"vec_id" < 8), "vec_id", "embedding", k = 1)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => pq.get(q).contains(nn) }
    assert(hits >= 6, s"PQ top-1 recall with trained codebooks too low: $hits/8")
  }

  test("ivfPqTopK: probing every cell reproduces pqTopK exactly; nprobe=1 keeps cluster recall") {
    // Composition invariant: with nprobe = |cells| the probe prunes
    // nothing, so IVF-ADC must equal the full-code-scan pqTopK row for
    // row at equal (m, k, rerank) — pins that the cell join, the ADC
    // fold, and both tie disciplines are the SAME code paths, merely
    // restricted. Then the production shape: on clustered data with
    // nprobe=1, recall survives scoring one cell per query.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.standinCentroids(e, "vec_id", "embedding", 8)
    val queries = e.filter($"vec_id" < 5)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id".cast("long"), $"item_id".cast("long"),
          $"adc_score", $"cosine", $"rank")
        .as[(Long, Long, Double, Double, Int)].collect().sortBy(t => (t._1, t._5))
    val full = key(Similarity.pqTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", cents, "cid", "center",
      m = 8, k = 3, rerank = 10))
    val ivfAll = key(Similarity.ivfPqTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding",
      coarseCentroids = cents, nprobe = 8,
      pqCentroids = cents, m = 8, k = 3, rerank = 10))
    assert(ivfAll === full)
    // clustered fixture: per-subspace codebooks + kmeans cells, one
    // probed cell — the true nearest neighbor lives in the query's own
    // cell, so top-1 recall stays near-exact while 2/3 of the corpus
    // is never ADC-scored
    val rnd = new scala.util.Random(19)
    val centers3 = Seq(
      Array.tabulate(16)(d => if (d < 5) 1.0f else 0.0f),
      Array.tabulate(16)(d => if (d >= 5 && d < 10) 1.0f else 0.0f),
      Array.tabulate(16)(d => if (d >= 10) 1.0f else 0.0f))
    val points = (0 until 30).map { i =>
      val c = centers3(i % 3)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val coarse = Similarity.kmeansCentroids(points, "embedding", k = 3)
    val books = Similarity.pqCodebooks(points, "embedding", m = 4, k = 3)
    val ivf1 = Similarity.ivfPqTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding",
      coarseCentroids = coarse, nprobe = 1,
      pqCentroids = books, m = 4, k = 1, rerank = 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val brute3 = Similarity.bruteForceTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding", k = 1)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val hits = brute3.count { case (q, nn) => ivf1.get(q).contains(nn) }
    assert(hits >= 27, s"IVF-ADC nprobe=1 top-1 recall too low: $hits/30")
    // and a precomputed stored index answers identically to the inline
    // encode — the persisted-index seam ivfPqIndexRows exists for
    val idx = Similarity.ivfPqIndexRows(points, "vec_id", "embedding",
      coarse, books, m = 4)
    val viaIndex = Similarity.ivfPqTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding",
      coarseCentroids = coarse, nprobe = 1,
      pqCentroids = books, m = 4, k = 1, rerank = 10,
      index = Some(idx))
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    assert(viaIndex === ivf1)
  }

  test("IVF-PQ index persists cell-partitioned; loaded and pruned queries answer identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    try {
      val store = graft.sources.ParquetStore(spark, dir)
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val cents = Similarity.standinCentroids(e, "vec_id", "embedding", 8)
      val queries = e.filter($"vec_id" < 5)
      val idx = Similarity.ivfPqIndexRows(e, "vec_id", "embedding",
        cents, cents, m = 8)
      Similarity.ivfPqSave(idx, store, "ivfpq")
      // the physical layout IS the claim: one directory per cell
      val cellDirs = new java.io.File(s"$dir/ivfpq.parquet")
        .listFiles().filter(_.getName.startsWith("cell="))
      assert(cellDirs.length > 1, "index not cell-partitioned on disk")
      def run(index: org.apache.spark.sql.DataFrame, prune: Boolean) =
        Similarity.ivfPqTopK(e, "vec_id", "embedding",
          queries, "vec_id", "embedding",
          coarseCentroids = cents, nprobe = 2,
          pqCentroids = cents, m = 8, k = 3, rerank = 10,
          index = Some(index), pruneIndexPartitions = prune)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"query_id".cast("long"), $"item_id".cast("long"),
            $"adc_score", $"cosine", $"rank")
          .as[(Long, Long, Double, Double, Int)].collect()
          .sortBy(t => (t._1, t._5))
      val base = rows(run(idx, prune = false))
      val loaded = Similarity.ivfPqLoad(store, "ivfpq")
      assert(rows(run(loaded, prune = false)) === base)
      val pruned = run(loaded, prune = true)
      assert(rows(pruned) === base)
      // and the pruned scan drops unprobed cells' FILES: the index
      // scan's PartitionFilters must carry the literal cell predicate
      // (the scan is nested under AQE/broadcast wrappers, so find its
      // FileScan LINE in the plan dump rather than a plan leaf)
      val scanLine = pruned.queryExecution.executedPlan.toString
        .linesIterator.find(l =>
          l.contains("FileScan") && l.contains("ivfpq.parquet"))
      assert(scanLine.isDefined, "no file scan of the stored index found")
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findFirstMatchIn(scanLine.get).map(_.group(1)).getOrElse("")
      assert(pf.contains("cell"),
        s"index scan does not prune on cell partitions:\n${scanLine.get}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("ivfPqAppend grows a stored index batch-by-batch, equal to a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    try {
      val store = graft.sources.ParquetStore(spark, dir)
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val cents = Similarity.standinCentroids(e, "vec_id", "embedding", 8)
      val half1 = e.filter($"vec_id" % 2 === 0)
      val half2 = e.filter($"vec_id" % 2 =!= 0)
      Similarity.ivfPqSave(Similarity.ivfPqIndexRows(
        half1, "vec_id", "embedding", cents, cents, m = 8), store, "idx")
      Similarity.ivfPqAppend(store, "idx", half2, "vec_id", "embedding",
        cents, cents, m = 8)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select($"item_id".cast("long"), $"cell".cast("long"),
            $"codes".cast("array<int>"))
          .as[(Long, Long, Seq[Int])].collect().sortBy(_._1)
      val grown = rows(Similarity.ivfPqLoad(store, "idx"))
      val rebuilt = rows(Similarity.ivfPqIndexRows(
        e, "vec_id", "embedding", cents, cents, m = 8))
      assert(grown === rebuilt)
      // queries against the grown stored index match the inline index
      val queries = e.filter($"vec_id" < 5)
      def top(index: Option[org.apache.spark.sql.DataFrame]) =
        Similarity.ivfPqTopK(e, "vec_id", "embedding",
          queries, "vec_id", "embedding",
          coarseCentroids = cents, nprobe = 2,
          pqCentroids = cents, m = 8, k = 3, rerank = 10,
          index = index,
          pruneIndexPartitions = index.isDefined)
          .select($"query_id".cast("long"), $"item_id".cast("long"), $"rank")
          .as[(Long, Long, Int)].collect().sortBy(t => (t._1, t._3))
      assert(top(Some(Similarity.ivfPqLoad(store, "idx"))) === top(None))
      // compaction keeps the grown index byte-identical and queryable
      store.compact("idx", partitionCols = Seq("cell"))
      assert(rows(Similarity.ivfPqLoad(store, "idx")) === rebuilt)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively(); ()
    }
  }

  test("residual IVF-PQ: residual encoding cuts quantization error; recall holds at nprobe=1") {
    // The canonical IVF-PQ argument, measured: on clustered data the
    // residual v − center(cell) has a fraction of the vector's norm, so
    // PQ codebooks trained on residuals reconstruct with materially
    // less squared error than codebooks trained on raw vectors at the
    // SAME (m, k) byte budget — that margin is why production ANN
    // encodes residuals. Then the composed query path at nprobe=1.
    // The regime where residuals matter: MORE coarse cells than
    // codebook entries. 8 well-separated clusters but k = 2 codebook
    // entries per subspace — raw codebooks cannot cover 8 cluster
    // patterns, while residual codebooks only need to encode the
    // small within-cell offset (centered at zero by construction).
    val rnd = new scala.util.Random(31)
    val centers8 = (0 until 8).map { j =>
      Array.tabulate(16)(d => if (d == 2 * j || d == 2 * j + 1) 1.0f else 0.0f)
    }
    val points = (0 until 40).map { i =>
      val c = centers8(i % 8)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    // coarse cells: the exact centers (deterministic stand-in — the
    // kmeans seam is covered by the other IVF specs)
    val coarse = centers8.zipWithIndex
      .map { case (c, j) => (j.toLong, c) }.toDF("cid", "center")
    // residual frame: v − assigned-cell center
    val resFrame = Similarity.centroidAssign("embedding", coarse, "cid", "center")(points)
      .join(broadcast(coarse.select($"cid".as("centroid_label"), $"center".as("__cc"))),
        "centroid_label")
      .select($"vec_id",
        zip_with($"embedding", $"__cc",
          (x, c) => x.cast("double") - c.cast("double")).as("embedding"))
    val rawBooks = Similarity.pqCodebooks(points, "embedding", m = 4, k = 2)
    val resBooks = Similarity.pqCodebooks(resFrame, "embedding", m = 4, k = 2)
    // mean per-subspace argmin squared-L2 (what pqEncode minimizes)
    def distortion(cb: org.apache.spark.sql.DataFrame,
        data: org.apache.spark.sql.DataFrame): Double = {
      val cents = cb.select($"center".cast("array<double>")).as[Seq[Double]].collect()
      val pts = data.select($"embedding".cast("array<double>")).as[Seq[Double]].collect()
      val sub = 4
      pts.map { p =>
        (0 until 4).map { s =>
          cents.map { c =>
            (0 until sub).map { j =>
              val d = p(s * sub + j) - c(s * sub + j); d * d
            }.sum
          }.min
        }.sum
      }.sum / pts.length
    }
    val dRaw = distortion(rawBooks, points)
    val dRes = distortion(resBooks, resFrame)
    assert(dRes < dRaw / 2,
      s"residual distortion $dRes not well below raw $dRaw at equal budget")
    // composed query path: residual codes + q·center + LUT, one probed
    // cell — top-1 recall stays near-exact
    val ivf = Similarity.ivfPqTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding",
      coarseCentroids = coarse, nprobe = 1,
      pqCentroids = resBooks, m = 4, k = 1, rerank = 10,
      residual = true)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val brute = Similarity.bruteForceTopK(points, "vec_id", "embedding",
      points, "vec_id", "embedding", k = 1)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val hits = brute.count { case (q, nn) => ivf.get(q).contains(nn) }
    assert(hits >= 36, s"residual IVF-PQ top-1 recall too low: $hits/40")
  }

  test("matryoshkaTopK: full-width coarse reproduces brute force; prefix signal keeps recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 10)
    val nCorpus = e.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id".cast("long"), $"item_id".cast("long"),
          $"cosine", $"rank")
        .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4))
    // coarseDims = full dim + a pool covering the corpus: the coarse
    // order IS the exact order, so output equals bruteForceTopK
    val full = rows(Similarity.matryoshkaTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding",
      k = 5, coarseDims = 64, rerank = nCorpus))
    val brute = rows(Similarity.bruteForceTopK(e, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5))
    assert(full === brute)
    // MRL-shaped fixture: signal lives in the leading 8 dims, the tail
    // is small noise — a 8-of-32-dim coarse pass keeps top-1 recall
    val rnd = new scala.util.Random(37)
    val centers = (0 until 4).map { j =>
      Array.tabulate(32)(d =>
        if (d < 8 && d % 4 == j) 1.0f else 0.0f)
    }
    val pts = (0 until 40).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.05f))
    }.toDF("vec_id", "embedding")
    val mrl = Similarity.matryoshkaTopK(pts, "vec_id", "embedding",
      pts, "vec_id", "embedding", k = 1, coarseDims = 8, rerank = 10)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val bf = Similarity.bruteForceTopK(pts, "vec_id", "embedding",
      pts, "vec_id", "embedding", k = 1)
      .select("query_id", "item_id").as[(Long, Long)].collect().toMap
    val hits = bf.count { case (q, nn) => mrl.get(q).contains(nn) }
    assert(hits >= 36, s"prefix-coarse top-1 recall too low: $hits/40")
  }

  test("IVF-ADC recall tracks the probed fraction on unstructured vectors; stored codes are identical") {
    // The composed path under the same adversarial conditions as the
    // kmeans-IVF dossier table: UNSTRUCTURED fixture embeddings, where
    // recall can only track the probed fraction. Also pins the
    // stored-codes mode: pqTopK fed a persisted pqIndexRows frame is
    // row-identical to the inline encode.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.standinCentroids(e, "vec_id", "embedding", 8)
    val queries = e.filter($"vec_id" < 20)
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id".cast("long"), $"item_id".cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val brute = topk(Similarity.bruteForceTopK(
      e, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5))
    def recallAt(nprobe: Int, rerank: Int): Double = {
      val got = topk(Similarity.ivfPqTopK(e, "vec_id", "embedding",
        queries, "vec_id", "embedding",
        coarseCentroids = cents, nprobe = nprobe,
        pqCentroids = cents, m = 8, k = 5, rerank = rerank))
      brute.map { case (q, bf) =>
        got.getOrElse(q, Set.empty).intersect(bf).size }.sum.toDouble /
        brute.values.map(_.size).sum
    }
    // nprobe widens the CANDIDATE set but the fixed-size ADC pool caps
    // what reaches the exact rerank, so recall is NOT monotone in
    // nprobe alone (more candidates compete for the same pool slots
    // under a noisy ADC order — measured: 0.63 at nprobe=2 vs 0.61 at
    // nprobe=8, rerank=10). The monotone knob at fixed probes is the
    // POOL: a wider rerank must recover recall, approaching brute
    // force as the pool approaches the candidate set.
    val quarter = recallAt(2, 10)
    val full = recallAt(8, 10)
    val fullWide = recallAt(8, 30)
    assert(quarter >= 0.4, s"nprobe=2 IVF-ADC recall too low: $quarter")
    assert(full >= 0.5, s"full-probe IVF-ADC recall too low: $full")
    assert(fullWide >= full,
      s"wider ADC pool lost recall: $full -> $fullWide")
    assert(fullWide >= 0.85, s"wide-pool recall too low: $fullWide")
    // stored-codes mode: persisted (id, codes) rows drive pqTopK to
    // the identical result
    val stored = Similarity.pqIndexRows("vec_id", "embedding",
      cents, "cid", "center", m = 8)(e).localCheckpoint()
    def rows(codes: Option[org.apache.spark.sql.DataFrame]) =
      Similarity.pqTopK(e, "vec_id", "embedding",
        queries, "vec_id", "embedding", cents, "cid", "center",
        m = 8, k = 5, rerank = 10, codes = codes)
        .select($"query_id".cast("long"), $"item_id".cast("long"), $"rank")
        .as[(Long, Long, Int)].collect().sortBy(t => (t._1, t._3))
    assert(rows(Some(stored)) === rows(None))
  }

  test("kmeans-IVF recall floors on unstructured vectors") {
    // The SURVEY §8 dossier numbers, pinned: on the UNSTRUCTURED fixture
    // embeddings (uniform noise — the adversarial case for cell pruning)
    // recall must track the probed fraction. Floors sit ~0.1 under the
    // measured values (0.56 at 1/4 probed, 0.80 at 1/2) to absorb float
    // nondeterminism in the distributed k-means fit.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val k = 10
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id".cast("long"), $"item_id".cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val brute = topk(Similarity.bruteForceTopK(
      e, "vec_id", "embedding", e, "vec_id", "embedding", k))
    def recallAt(nprobe: Int): Double = {
      val cents = Similarity.kmeansCentroids(e, "embedding", k = 16)
      val ivf = topk(Similarity.ivfTopK(e, "vec_id", "embedding", k,
        nprobe = nprobe, centroids = Some(cents)))
      val hits = brute.map { case (q, bf) =>
        ivf.getOrElse(q, Set.empty).intersect(bf).size }.sum
      hits.toDouble / brute.values.map(_.size).sum
    }
    val quarter = recallAt(4)
    val half = recallAt(8)
    assert(quarter >= 0.45, s"recall at nprobe=4 too low: $quarter")
    assert(half >= 0.70, s"recall at nprobe=8 too low: $half")
    // more cells probed must buy recall, not just cost
    assert(half > quarter, s"recall not monotone in nprobe: $quarter vs $half")
  }

  test("int8 quantization: scale-invariant codes, exact self-similarity, high top-k agreement") {
    // scale cancels: v and 3v quantize to identical codes
    val pair = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(1.5f, -3.0f, 0.75f, 0.0f))
    ).toDF("vec_id", "embedding")
      .select(Similarity.quantizeInt8($"embedding").as("codes"))
      .as[Seq[Int]].collect()
    assert(pair(0) === pair(1))
    assert(pair(0) === Seq(64, -127, 32, 0)) // floor(x*127/1.0 + 0.5)
    // identical codes score ~1.0 (integer dot == both norms; the only
    // slack is sqrt(x)*sqrt(x) ≠ x in the last ulp)
    val self = Seq((Seq(64, -127, 32, 0), Seq(64, -127, 32, 0)))
      .toDF("a", "b")
      .select(Similarity.quantizedCosine($"a", $"b")).head().getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
    // zero vector -> all-zero codes, cosine 0.0 against anything
    val zero = Seq((Array(0f, 0f, 0f, 0f), Array(1f, 2f, 3f, 4f)))
      .toDF("z", "v")
      .select(Similarity.quantizedCosine(
        Similarity.quantizeInt8($"z"), Similarity.quantizeInt8($"v")))
      .head().getDouble(0)
    assert(zero === 0.0)
    // ranking agreement with full precision on the fixture embeddings:
    // int8 rounding perturbs cosine by ~1e-2, so top-5 sets agree almost
    // everywhere on unstructured vectors
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id".cast("long"), $"item_id".cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (k, xs) => k -> xs.map(_._2).toSet }
    val full = sets(Similarity.bruteForceTopK(
      e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5))
    val quant = sets(Similarity.bruteForceTopKQuantized(
      e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5))
    val hits = full.map { case (k, bf) =>
      quant.getOrElse(k, Set.empty).intersect(bf).size }.sum
    val recall = hits.toDouble / full.values.map(_.size).sum
    assert(recall >= 0.85, s"quantized top-5 recall too low: $recall")
  }

  test("signSketch packs sign bits; hammingTopK recall vs brute force") {
    // bit d set iff vec[d] >= 0 (zero counts positive)
    val codes = Seq((1L, Array(1f, -1f, 0f, -0.5f)))
      .toDF("vec_id", "embedding")
      .select(Similarity.signSketch($"embedding", dim = 4)).head().getLong(0)
    assert(codes === 5L) // bits 0 and 2 (1.0 and 0.0), not 1 and 3
    // opposite vectors differ in every packed bit
    val ham = Seq((Array(1f, 1f, -1f, -1f), Array(-1f, -1f, 1f, 1f)))
      .toDF("a", "b")
      .select(call_function("bit_count",
        Similarity.signSketch($"a", 4).bitwiseXOR(
          Similarity.signSketch($"b", 4)))).head().getInt(0)
    assert(ham === 4)
    // coarse-rank + rerank finds most of the exact top-5 on the fixture
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id".cast("long"), $"item_id".cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (k, xs) => k -> xs.map(_._2).toSet }
    val full = sets(Similarity.bruteForceTopK(
      e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5))
    val coarse = sets(Similarity.hammingTopK(
      e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5, rerank = 10))
    val hits = full.map { case (k, bf) =>
      coarse.getOrElse(k, Set.empty).intersect(bf).size }.sum
    val recall = hits.toDouble / full.values.map(_.size).sum
    assert(recall >= 0.5, s"hamming-rerank top-5 recall too low: $recall")
  }

  test("hammingTopKWide: dim-128 recall vs brute force; dim-64 form matches hammingTopK") {
    val e64 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // widen the 64-d fixture to 128 dims (concat its reverse) — the
    // deterministic widening the verified query shares with the oracle
    val e = e64.select($"vec_id",
      concat($"embedding", reverse($"embedding")).as("embedding"))
    val q = e.filter($"vec_id" < 10)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"query_id".cast("long"), $"item_id".cast("long"))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (k, xs) => k -> xs.map(_._2).toSet }
    val full = sets(Similarity.bruteForceTopK(
      e, "vec_id", "embedding", q, "vec_id", "embedding", k = 5))
    val wide = sets(Similarity.hammingTopKWide(
      e, "vec_id", "embedding", q, "vec_id", "embedding",
      k = 5, dim = 128, rerank = 10))
    val hits = full.map { case (k, bf) =>
      wide.getOrElse(k, Set.empty).intersect(bf).size }.sum
    val recall = hits.toDouble / full.values.map(_.size).sum
    assert(recall >= 0.5, s"wide hamming-rerank top-5 recall too low: $recall")
    // at dim <= 64 the wide form IS hammingTopK (single-word sketches)
    val q64 = e64.filter($"vec_id" < 10)
    val narrow = Similarity.hammingTopK(
      e64, "vec_id", "embedding", q64, "vec_id", "embedding", k = 5, rerank = 10)
      .orderBy("query_id", "rank").collect()
    val wide64 = Similarity.hammingTopKWide(
      e64, "vec_id", "embedding", q64, "vec_id", "embedding",
      k = 5, dim = 64, rerank = 10)
      .orderBy("query_id", "rank").collect()
    assert(narrow === wide64)
  }

  test("gopherRules: each rule gates its own signal; NULL text fails like empty") {
    // 60 distinct-ish prose tokens with stopwords -> passes everything
    val good = (1 to 53).map(i => s"word$i").mkString(" ") +
      " the cat sat on a mat and"
    val short = "the a brief note"                  // fails length only
    val noStop = (1 to 60).map(i => s"tok$i").mkString(" ") // fails stopwords
    val df = Seq((1L, good), (2L, short), (3L, noStop), (4L, null: String))
      .toDF("doc_id", "text")
    val out = TextOps.gopherRules("doc_id", "text")(df)
      .orderBy("doc_id")
      .select("doc_id", "pass_length", "pass_mean_len", "pass_alpha",
        "pass_stopwords", "pass_repetition", "passes_gopher")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(out(0) === ((1L, 1L, 1L, 1L, 1L, 1L, 1L)))
    assert(out(1)._2 === 0L && out(1)._7 === 0L)    // short: length fails
    assert(out(2)._5 === 0L && out(2)._7 === 0L)    // noStop: stopwords fail
    assert(out(3)._2 === 0L && out(3)._7 === 0L)    // NULL: gates, not NULLs
    val sig = TextOps.gopherRules("doc_id", "text")(df)
      .filter($"doc_id" === 1L)
      .select("n_tokens", "stop_hits").as[(Long, Long)].head()
    assert(sig._1 === 60L && sig._2 >= 2L)
  }

  test("gopherRepetition: overlap-aware coverage, deterministic top gram, degenerate docs") {
    val df = Seq(
      (1L, "a b a b a b"),
      // period-5 repetition: every 5..10-gram position duplicates, but
      // each character may only be counted ONCE (naive occurrence×len
      // sums would be 55/15 here)
      (2L, "p q r s t p q r s t p q r s t"),
      // one repeated 5-gram with a 5-token gap -> a single merged island
      // covering 10 of 20 chars
      (3L, "m n o p q m n o p q z1 z2 z3 z4 z5"),
      (4L, "hello"),
      (5L, null: String)).toDF("doc_id", "text")
    val out = TextOps.gopherRepetition("doc_id", "text")(df)
    assert(out.columns === Array("doc_id",
      "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
      "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
      "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac"))
    val m = out.collect().map(r => r.getLong(0) -> r).toMap
    val r1 = m(1L)
    assert(r1.getDouble(1) === 1.0)         // "a b" ×3 × 2 chars / 6
    assert(r1.getDouble(2) === 1.0)         // 3-gram tie: either way 2×3/6
    assert(r1.getDouble(3) === 8.0 / 6.0)   // top occurrences overlap: may exceed 1
    assert(r1.getDouble(4) === 0.0)         // both 5-grams distinct
    val r2 = m(2L)
    (4 to 9).foreach(i => assert(r2.getDouble(i) === 1.0,
      s"period-5 doc: dup coverage at col $i should be exactly 1.0"))
    val r3 = m(3L)
    assert(r3.getDouble(1) === 0.2)         // top 2-gram: 2 occ × 2 chars / 20
    assert(r3.getDouble(4) === 0.5)         // island pos 0..9 = 10 of 20 chars
    assert(r3.getDouble(5) === 0.0)         // no duplicated 6-grams
    val r4 = m(4L)
    (1 to 9).foreach(i => assert(r4.getDouble(i) === 0.0)) // 1 token: no grams
    val r5 = m(5L)
    (1 to 9).foreach(i => assert(r5.getDouble(i) === 0.0)) // NULL text scores 0
  }

  test("tokenizerFertility: exact per-source sums, vocab, and guarded ratios") {
    val df = Seq(
      ("s1", "ab ab"), ("s1", "ab cd"), ("s2", null: String))
      .toDF("source", "text")
    val out = TextOps.tokenizerFertility("source", "text",
      merges = Seq(("a", "b")))(df)
      .orderBy("source")
      .select("source", "n_docs", "n_words", "n_chars", "n_bpe_tokens",
        "vocab_size", "bpe_per_word", "chars_per_bpe", "type_token_ratio")
      .as[(String, Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect()
    // s1: 4 words / 8 chars; "ab" merges to ONE token, "cd" stays 2 ->
    // 1+1 + 1+2 = 5 BPE tokens; vocab {ab, cd}
    assert(out(0) === (("s1", 2L, 4L, 8L, 5L, 2L, 1.25, 1.6, 0.5)))
    // NULL text = one zero-length word: 0 chars, 0 BPE tokens, the ""
    // type in the vocab; chars_per_bpe divide-guards to 0.0
    assert(out(1) === (("s2", 1L, 1L, 0L, 0L, 1L, 0.0, 0.0, 1.0)))
  }

  test("maxPool: element-wise max per group, exact regardless of order") {
    val df = Seq(
      (1L, Array(1.0f, -5.0f, 0.0f), 0),
      (2L, Array(-2.0f, 3.0f, 0.5f), 0),
      (3L, Array(9.0f, 9.0f, 9.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = graft.ext.Similarity.maxPool("embedding", "label")(df)
      .orderBy("label", "dim")
      .select("label", "dim", "max_val").as[(Int, Long, Double)].collect()
    assert(out === Array(
      (0, 0L, 1.0), (0, 1L, 3.0), (0, 2L, 0.5),
      (1, 0L, 9.0), (1, 1L, 9.0), (1, 2L, 9.0)))
  }

  test("bigramLmQuality: interpolated probabilities, degenerate docs score 0") {
    val df = Seq(
      (1L, "a b a b"), (2L, "b b"), (3L, "solo"), (4L, null: String))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLmQuality("doc_id", "text", lambda = 0.5)(df)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "lm_score")
      .as[(Long, Long, Double)].collect()
    // corpus: cb(a,b)=2 cb(b,a)=1 cb(b,b)=1; cl(a)=2 cl(b)=2; unigrams
    // include EVERY doc's tokens ("solo" and the NULL doc's "" too):
    // cu(a)=2 cu(b)=4, T=8
    val pAB = 0.5 * (2.0 / 2.0) + 0.5 * (4.0 / 8.0)
    val pBA = 0.5 * (1.0 / 2.0) + 0.5 * (2.0 / 8.0)
    val pBB = 0.5 * (1.0 / 2.0) + 0.5 * (4.0 / 8.0)
    assert(out(0)._2 === 3L)
    assert(math.abs(out(0)._3 - (pAB + pBA + pAB) / 3.0) < 1e-12)
    assert(out(1) === ((2L, 1L, pBB)))
    assert(out(2) === ((3L, 0L, 0.0)))    // single token: no bigrams
    assert(out(3) === ((4L, 0L, 0.0)))    // NULL text
  }

  test("trigramLmQuality: hand-checked backoff legs against a stored count table") {
    // count corpus "a b a b a": c1(a)=3 c1(b)=2 T=5; c2(a b)=2
    // c2(b a)=2; c3(a b a)=2 c3(b a b)=1
    val model = Seq((0L, "a b a b a")).toDF("doc_id", "text")
    val counts = TextOps.lmCountTable("text")(model)
    assert(counts.columns.toSeq === Seq("n", "gram", "occurrences"))
    val docs = Seq(
      (1L, "a b a"),        // trigram leg: 2/2 = 1.0
      (2L, "b a b"),        // trigram leg: 1/2 = 0.5
      (3L, "b b a"),        // bigram leg on suffix (b a): 0.4·(2/2)
      (4L, "a a b"),        // bigram leg on suffix (a b): 0.4·(2/3)
      (5L, "q q q"),        // unseen everywhere: exact 0.0
      (6L, "a b a b"),      // two positions: mean(1.0, 0.5)
      (7L, "b b"),          // < 3 tokens: no positions
      (8L, null: String))
      .toDF("doc_id", "text")
    val out = TextOps.trigramLmQuality("doc_id", "text", counts)(docs)
      .orderBy("doc_id")
      .select("doc_id", "n_trigrams", "lm_score")
      .as[(Long, Long, Double)].collect()
    assert(out(0) === ((1L, 1L, 1.0)))
    assert(out(1) === ((2L, 1L, 0.5)))
    assert(out(2) === ((3L, 1L, 0.4 * (2.0 / 2.0))))
    assert(out(3) === ((4L, 1L, 0.4 * (2.0 / 3.0))))
    assert(out(4) === ((5L, 1L, 0.0)))
    assert(out(5)._2 === 2L)
    assert(math.abs(out(5)._3 - (1.0 + 0.5) / 2.0) < 1e-15)
    assert(out(6) === ((7L, 0L, 0.0)))
    assert(out(7) === ((8L, 0L, 0.0)))
    // unigram floor: doc of seen-but-never-adjacent tokens rides α²·c1/T
    val uni = Seq((9L, "a a a")).toDF("doc_id", "text")
    val u = TextOps.trigramLmQuality("doc_id", "text", counts)(uni).head()
    assert(math.abs(u.getAs[Double]("lm_score") -
      0.4 * 0.4 * (3.0 / 5.0)) < 1e-15)
    intercept[IllegalArgumentException](
      TextOps.trigramLmQuality("doc_id", "text",
        counts.select("n", "gram"))(docs))
  }

  test("trigramLmQuality separates in-domain from shuffled-token documents") {
    // the CCNet-filter property the rung exists for: same tokens, same
    // unigram stats — the trigram/bigram structure is the signal
    val model = (1 to 40).map(i =>
      (i.toLong, "the cat sat on the mat and the dog sat on the rug"))
      .toDF("doc_id", "text")
    val counts = TextOps.lmCountTable("text")(model)
    val probe = Seq(
      (100L, "the cat sat on the mat"),        // in-domain
      (101L, "mat the on sat cat the"))        // same tokens, shuffled
      .toDF("doc_id", "text")
    val scored = TextOps.trigramLmQuality("doc_id", "text", counts)(probe)
      .orderBy("doc_id").select("lm_score").as[Double].collect()
    assert(scored(0) > 5.0 * scored(1),
      s"in-domain ${scored(0)} should dominate shuffled ${scored(1)}")
    // production mode: plain sum agrees to rounding
    val fast = TextOps.trigramLmQuality("doc_id", "text", counts,
      exactOrder = false)(probe)
      .orderBy("doc_id").select("lm_score").as[Double].collect()
    scored.zip(fast).foreach { case (e, f) =>
      assert(math.abs(e - f) <= 1e-12 * math.max(1.0, math.abs(e))) }
  }

  test("targetAffinity: exact count ratios, zero-gram and empty-target guards") {
    // target: two docs sharing the bigram "x y"; raw: one doc matching
    // the target's bigram, one alien, one too short for any bigram,
    // one NULL
    val target = Seq((100L, "x y z"), (101L, "x y")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "x y z"), (2L, "p q r"), (3L, "solo"), (4L, null: String))
      .toDF("doc_id", "text")
    val out = TextOps.targetAffinity("doc_id", "text", n = 2,
      target, "text")(raw)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "target_hits", "raw_hits",
        "target_score", "raw_score", "affinity")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    // target grams: (x y)×2, (y z); raw grams: (x y), (y z), (p q), (q r)
    // doc 1: grams (x y),(y z) -> target hits 2+1=3, raw hits 1+1=2
    //   T=3, R=4 -> target 3/(2·3)=0.5, raw 2/(2·4)=0.25
    assert(out(0) === ((1L, 2L, 3L, 2L, 0.5, 0.25, 0.25)))
    // doc 2: grams (p q),(q r) -> zero target hits, raw hits 1+1=2
    assert(out(1) === ((2L, 2L, 0L, 2L, 0.0, 0.25, -0.25)))
    // doc 3/4: no grams -> all-zero row, scores 0.0 (not NULL/NaN)
    assert(out(2) === ((3L, 0L, 0L, 0L, 0.0, 0.0, 0.0)))
    assert(out(3) === ((4L, 0L, 0L, 0L, 0.0, 0.0, 0.0)))
    // empty target corpus: target_score divide-guards to 0.0 everywhere
    val noTgt = TextOps.targetAffinity("doc_id", "text", n = 2,
      target.filter($"doc_id" < 0L), "text")(raw)
      .agg(max(abs($"target_score")), max(abs($"affinity" + $"raw_score")))
      .as[(Double, Double)].head()
    assert(noTgt === ((0.0, 0.0)))
  }

  test("scorePercentiles matches percent_rank semantics incl. ties") {
    val df = Seq(
      ("a", 1L, 0.1), ("a", 2L, 0.2), ("a", 3L, 0.2), ("a", 4L, 0.4),
      ("b", 5L, 0.9)).toDF("source", "id", "score")
    val out = TextOps.scorePercentiles("source", "score")(df)
      .orderBy("id").select("id", "score_pct").as[(Long, Double)].collect()
    // a: 4 rows -> below/(n-1): 0/3, 1/3, 1/3 (tie), 3/3; b: single row -> 0
    assert(out === Array((1L, 0.0), (2L, 1.0 / 3), (3L, 1.0 / 3),
      (4L, 1.0), (5L, 0.0)))
  }

  test("scorePercentiles: NULL/NaN scores keep their row with NULL score_pct") {
    val df = Seq(
      ("a", 1L, 0.1), ("a", 2L, 0.3),
      ("a", 3L, Double.NaN),               // NaN: unrankable, row survives
      ("a", 4L, 0.2)).toDF("source", "id", "score")
      .union(Seq(("a", 5L)).toDF("source", "id")
        .withColumn("score", lit(null).cast("double"))
        .select("source", "id", "score")) // NULL: unrankable, row survives
    val out = TextOps.scorePercentiles("source", "score")(df)
      .orderBy("id").select("id", "score_pct")
      .as[(Long, Option[Double])].collect()
    // the three ranked rows rank among THEMSELVES (n=3): 0, 2/2, 1/2;
    // the NaN and NULL rows are present with a NULL percentile — never
    // silently dropped, never polluting the ranked rows' denominators
    assert(out === Array((1L, Some(0.0)), (2L, Some(1.0)),
      (3L, None), (4L, Some(0.5)), (5L, None)))
  }

  test("mixReport shares sum to 1 and sampling ratios invert actual shares") {
    val df = Seq(
      ("s1", "a b c d"), ("s1", "e f"), ("s2", "g h")).toDF("source", "text")
    val out = TextOps.mixReport("source", "text", Map("s2" -> 0.75))(df)
      .orderBy("source")
      .select("source", "n_docs", "n_tokens", "token_share",
        "target_share", "sampling_ratio")
      .as[(String, Long, Long, Double, Double, Double)].collect()
    assert(out(0) === (("s1", 2L, 6L, 0.75, 0.0, 0.0)))
    assert(out(1) === (("s2", 1L, 2L, 0.25, 0.75, 3.0)))
  }

  test("truncateTokens clips long docs, passes short and NULL-free text through") {
    val df = Seq((1L, "a b c d e"), (2L, "x y")).toDF("doc_id", "text")
    val out = TextOps.truncateTokens("text", maxTokens = 3)(df)
      .orderBy("doc_id").select("doc_id", "n_tokens", "text_trunc")
      .as[(Long, Long, String)].collect()
    assert(out(0) === ((1L, 5L, "a b c")))
    assert(out(1) === ((2L, 2L, "x y"))) // untouched, not re-joined
    // NULL text gates like empty text instead of poisoning outputs NULL
    val nulls = TextOps.truncateTokens("text", maxTokens = 3)(
      Seq((9L, null: String)).toDF("doc_id", "text"))
      .select("doc_id", "n_tokens", "text_trunc")
      .as[(Long, Long, String)].head()
    assert(nulls === ((9L, 1L, "")))
  }

  test("truncateTokensBpe clips in model tokens; chunkTextsBpe windows the piece stream") {
    // demo merges collapse 'the' to one piece: 'the the the the' = 4
    // BPE pieces; clipping at 2 keeps 'the the'. 'ab' (2 pieces, no
    // merge fires) passes through bit-identical.
    val df = Seq((1L, "the the the the"), (2L, "ab")).toDF("doc_id", "text")
    val out = TextOps.truncateTokensBpe("text", maxTokens = 2,
      TextOps.demoBpeMerges)(df)
      .orderBy("doc_id").select("doc_id", "n_bpe_tokens", "text_trunc")
      .as[(Long, Long, String)].collect()
    assert(out(0) === ((1L, 4L, "the the")))
    assert(out(1) === ((2L, 2L, "ab")))
    // NULL text behaves like empty — (0, "") — per the shared doctrine
    val nulls = TextOps.truncateTokensBpe("text", maxTokens = 2,
      TextOps.demoBpeMerges)(Seq((9L, null: String)).toDF("doc_id", "text"))
      .select("doc_id", "n_bpe_tokens", "text_trunc")
      .as[(Long, Long, String)].head()
    assert(nulls === ((9L, 0L, "")))
    // chunk boundaries fall mid-word and rejoin without spurious
    // spaces: 'thethe' = pieces [▁the, the]; 1-piece windows give
    // chunks 'the' / 'the' (the second slice starts mid-word)
    val chunks = TextOps.chunkTextsBpe("doc_id", "text",
      chunkTokens = 1, stride = 1, TextOps.demoBpeMerges)(
      Seq((1L, "thethe")).toDF("doc_id", "text"))
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_start", "chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
    assert(chunks === Array((0L, 0L, 1L, "the"), (1L, 1L, 1L, "the")))
  }

  test("noveltyScores: dup docs score 0, unique docs 1, short docs keep a row") {
    val df = Seq(
      (1L, "a b c d e f"),  // trigrams shared with doc 2 -> novelty 0
      (2L, "a b c d e f"),
      (3L, "q r s t u v"),  // all trigrams unique -> novelty 1
      (4L, "x y")           // no trigram -> (0, 0, 0.0), still present
    ).toDF("doc_id", "text")
    val out = TextOps.noveltyScores("doc_id", "text", n = 3)(df)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_unique", "novelty")
      .as[(Long, Long, Long, Double)].collect()
    assert(out(0) === ((1L, 4L, 0L, 0.0)))
    assert(out(1) === ((2L, 4L, 0L, 0.0)))
    assert(out(2) === ((3L, 4L, 4L, 1.0)))
    assert(out(3) === ((4L, 0L, 0L, 0.0)))
  }

  test("tokenHistogram bins doc lengths at powers of two") {
    val df = Seq(
      ("s1", "a"),            // 1 token  -> bin 1
      ("s1", "a b c"),        // 3 tokens -> bin 2
      ("s1", "a b"),          // 2 tokens -> bin 2
      ("s2", "a b c d e f g h")) // 8 tokens -> bin 8
      .toDF("source", "text")
    val out = TextOps.tokenHistogram("source", "text")(df)
      .orderBy("source", "bin_lo")
      .select("source", "bin_lo", "n_docs", "n_tokens")
      .as[(String, Long, Long, Long)].collect()
    assert(out === Array(
      ("s1", 1L, 1L, 1L), ("s1", 2L, 2L, 5L), ("s2", 8L, 1L, 8L)))
    // NULL text counts like empty text — the 1-token bin — instead of
    // producing a NULL bin_lo row (the shared coalesce doctrine)
    val nulls = TextOps.tokenHistogram("source", "text")(
      Seq(("s1", null: String), ("s1", "")).toDF("source", "text"))
      .select("bin_lo", "n_docs", "n_tokens").as[(Long, Long, Long)].head()
    assert(nulls === ((1L, 2L, 2L)))
  }

  test("hashBernoulli: p>=1 keeps all, p<=0 drops all, rates track p, rerun-identical") {
    val df = (1L to 2000L).toDF("id")
    assert(df.filter(TextOps.hashBernoulli($"id", lit(1.0))).count() === 2000L)
    assert(df.filter(TextOps.hashBernoulli($"id", lit(0.0))).count() === 0L)
    val kept = df.filter(TextOps.hashBernoulli($"id", lit(0.3))).count()
    assert(kept > 450 && kept < 750, s"0.3-sample kept $kept of 2000")
    val again = df.filter(TextOps.hashBernoulli($"id", lit(0.3))).count()
    assert(again === kept) // deterministic, no RNG state
  }

  test("downsampleToTargets hits target shares and zeroes unlisted sources") {
    val docs = (1L to 3000L).map(i =>
      (i, s"tok${i % 7} tok${i % 11} tok${i % 13}", s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    // equal thirds; targets: s0 fully kept (cap at 1), s1 halved, s2 dropped
    val out = TextOps.downsampleToTargets("doc_id", "source", "text",
      Map("s0" -> 0.5, "s1" -> 0.1666))(docs)
    val bySrc = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc.getOrElse("s2", 0L) === 0L)
    assert(bySrc("s0") === 1000L)                 // ratio capped at 1
    assert(bySrc("s1") > 350L && bySrc("s1") < 650L) // ~ half
    assert(out.columns.toSeq === Seq("doc_id", "text", "source"))
  }

  test("labelVote elects the majority label, ties to the smallest label") {
    val neighbors = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),   // labels 7, 7, 9 -> 7 by majority
      (2L, 10L), (2L, 12L), (2L, 13L), (2L, 14L)) // 2 x 7, 2 x 9 -> tie -> 7
      .toDF("query_id", "item_id")
    val labels = Seq((10L, 7), (11L, 7), (12L, 9), (13L, 9), (14L, 7))
      .toDF("vec_id", "label")
    val out = Similarity.labelVote(neighbors, labels, "vec_id", "label")
      .orderBy("query_id")
      .select("query_id", "predicted_label", "votes")
      .as[(Long, Int, Long)].collect()
    assert(out(0) === ((1L, 7, 2L)))
    assert(out(1) === ((2L, 7, 2L)))  // tie on votes -> smaller label
    // a NULL label must never win an election (it would sort first in
    // the min_by struct); unlabeled rows simply don't vote
    val partial = Seq((10L, Option.empty[Int]), (11L, Some(7)),
      (12L, Some(9)), (13L, Some(9)), (14L, Some(7)))
      .toDF("vec_id", "label")
    val nullSafe = Similarity.labelVote(neighbors, partial, "vec_id", "label")
      .orderBy("query_id")
      .select("query_id", "predicted_label", "votes")
      .as[(Long, Int, Long)].collect()
    assert(nullSafe(0) === ((1L, 7, 1L)))  // 10 abstains; 7:1, 9:1 -> tie -> 7
    assert(nullSafe(1) === ((2L, 9, 2L)))  // 10 abstains; 9:2 beats 7:1
  }

  test("centroidAssign routes to the max-cosine centroid, ties to the smaller id") {
    val cents = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("label", "centroid")
      .select($"label", transform($"centroid", _.cast("double")).as("centroid"))
    val vecs = Seq(
      (1L, Array(0.9f, 0.1f, 0f, 0f)),   // -> centroid 0
      (2L, Array(0.1f, 0.9f, 0f, 0f)),   // -> centroid 1
      (3L, Array(1f, 1f, 0f, 0f)))       // exact tie -> centroid 0
      .toDF("vec_id", "embedding")
    val out = Similarity.centroidAssign("embedding", cents, "label", "centroid")(
      vecs).orderBy("vec_id")
      .select("vec_id", "centroid_label").as[(Long, Int)].collect()
    assert(out === Array((1L, 0), (2L, 1), (3L, 0)))
  }

  test("classCentroids + knnClassify agree with labels on separated clusters") {
    // two tight clusters in 4-d; every vector's 3-NN shares its label
    val rows = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 0f, 1f, 0f)
      (i.toLong, base.map(_ + (i / 100.0f)), i % 2)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val cents = Similarity.classCentroids("vec_id", "embedding", "label")(df)
    assert(cents.count() === 2)
    val assigned = Similarity.centroidAssign("embedding", cents,
      "label", "centroid")(df.withColumnRenamed("label", "true_label"))
      .select("true_label", "centroid_label").as[(Int, Int)].collect()
    assert(assigned.forall { case (t, c) => t === c })
    val knn = Similarity.knnClassify(df, "vec_id", "embedding", "label",
      queries = df.filter($"vec_id" < 4), queryId = "vec_id",
      queryVec = "embedding", k = 3)
      .join(df.select($"vec_id".as("query_id"), $"label"), "query_id")
      .select("predicted_label", "label").as[(Int, Int)].collect()
    assert(knn.length === 4 && knn.forall { case (p, t) => p === t })
  }

  test("ivfBuild exposes the persisted index for explicit release") {
    import org.apache.spark.storage.StorageLevel
    val idx = Similarity.ivfBuild(vecs, "vec_id", "embedding",
      Similarity.standinCentroids(vecs, "vec_id", "embedding", 2), nprobe = 1)
    assert(Similarity.ivfQuery(idx, k = 2).count() > 0)
    assert(idx.ranked.storageLevel != StorageLevel.NONE)
    idx.unpersist(blocking = true)
    assert(idx.ranked.storageLevel == StorageLevel.NONE)
  }

  test("tfidfTopTerms surfaces document-distinctive terms over ubiquitous ones") {
    val docs = Seq(
      (1L, "spark spark spark common common"),
      (2L, "duck duck common common common"),
      (3L, "flink flink common")
    ).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms("doc_id", "text", k = 1)(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("tfidf"))).toMap
    // each doc's top term is its unique word, never "common" (df = 3)
    assert(out(1L)._1 === "spark" && out(2L)._1 === "duck" && out(3L)._1 === "flink")
    // rational idf, exact arithmetic: tf * (N+1) / (df+1) = 3 * 4 / 2
    assert(out(1L)._4 === 6.0)
    assert(out(1L)._2 === 3L && out(1L)._3 === 1L)
  }

  test("embeddingProfile: dead dims, exact moments, zero fractions") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, -2.0f)),
      (2L, Array(3.0f, 0.0f, 2.0f)),
      (3L, Array(5.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.embeddingProfile("embedding")(vecs)
      .collect().map(r => r.getInt(0) -> r).toMap
    // dim 0: mean 3, var = ((1-3)²+(0)²+(2)²)/3 = 8/3 population
    val d0 = out(0)
    assert(d0.getLong(1) === 3L && d0.getDouble(2) === 3.0)
    assert(math.abs(d0.getDouble(3) - 8.0 / 3) < 1e-9)
    assert(d0.getDouble(4) === 1.0 && d0.getDouble(5) === 5.0)
    assert(d0.getDouble(6) === 0.0)
    // dim 1 is DEAD: zero variance, zero_frac 1 — the PQ-bit-waste flag
    val d1 = out(1)
    assert(d1.getDouble(2) === 0.0 && d1.getDouble(3) === 0.0 &&
      d1.getDouble(6) === 1.0)
    // dim 2: symmetric about 0 — zero mean, one exact zero of three
    val d2 = out(2)
    assert(d2.getDouble(2) === 0.0 && d2.getDouble(4) === -2.0)
    assert(math.abs(d2.getDouble(6) - 1.0 / 3) < 1e-12)
  }

  test("pcaProject makes Matryoshka truncation work on non-MRL embeddings") {
    // adversarial-for-prefix data: the LEADING 16 dims are constant and
    // every bit of signal lives in dims 16..31 (rank 2 there, well
    // separated) — exactly the embedding a non-Matryoshka-trained model
    // produces when its first dims happen to carry no variance
    val rows = (0 until 30).map { i =>
      val a = (i % 6).toFloat * 5f; val b = (i % 5).toFloat * 3f
      (i.toLong, Array.tabulate(32)(d =>
        if (d < 16) 1.0f
        else if (d < 24) a * (if (d % 2 == 0) 1f else -1f)
        else b))
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 5)
    def ids(d: org.apache.spark.sql.DataFrame) = d
      .select("query_id", "item_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1))
      .toMap
    // raw prefix truncation: the coarse pass ranks constant vectors —
    // pure tiebreak noise — and the k=3 answer disagrees with truth
    val rawTrunc = ids(Similarity.matryoshkaTopK(df, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, coarseDims = 8, rerank = 4))
    // PCA rotation: 4 components hold ALL the variance (rank ≤ 2 + µ),
    // so an 8-dim projection's leading dims ARE the signal
    val basis = Similarity.pcaBasis(df, "embedding", k = 8)
    val proj = Similarity.pcaProject("embedding", basis, "pca")(df)
      .select(col("vec_id"), col("pca").as("embedding"))
    val projQ = proj.filter(col("vec_id") < 5)
    val truth = ids(Similarity.bruteForceTopK(proj, "vec_id", "embedding",
      projQ, "vec_id", "embedding", k = 3))
    val pcaTrunc = ids(Similarity.matryoshkaTopK(proj, "vec_id",
      "embedding", projQ, "vec_id", "embedding", k = 3, coarseDims = 8,
      rerank = 4))
    // full-width coarse on the projection reproduces brute force…
    assert(pcaTrunc === truth)
    // …and a COARSE 2-dim PCA prefix still recalls the full answer —
    // the trailing components carry ~zero variance by construction
    val pcaCoarse = ids(Similarity.matryoshkaTopK(proj, "vec_id",
      "embedding", projQ, "vec_id", "embedding", k = 3, coarseDims = 2,
      rerank = 8))
    assert(pcaCoarse === truth)
    // the raw prefix could not do that: its answers diverge from the
    // same-pool-size PCA answer on this data
    assert(rawTrunc !== pcaCoarse)
  }

  test("ivfRecallEval: monotone recall, full-probe == brute force, count invariants") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        (math.sin(i * 0.7 + d) * 3 + (i % 4) * (if (d % 4 == i % 4) 2 else 0)).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 6)
    val rep = Similarity.ivfRecallEval(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, nCentroids = 4,
      nprobes = Seq(1, 2, 4))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    rep.values.foreach { case (truth, ivf, hit, recall) =>
      assert(truth === 18L) // 6 queries × k=3
      assert(hit <= truth && hit <= ivf)
      assert(recall === hit.toDouble / truth)
    }
    // wider probes never lose candidates: recall is monotone in nprobe
    assert(rep(1)._4 <= rep(2)._4 && rep(2)._4 <= rep(4)._4)
    // probing EVERY cell makes the candidate set the whole corpus:
    // identical to brute force, recall exactly 1.0
    assert(rep(4)._4 === 1.0)
  }

  test("pcaBasis/pcaProject: orthonormal basis, variance order, centering, isometry") {
    // rank-2 data in 8 dims: v = a·P1 + b·P2 + const, P1 ⊥ P2, with the
    // P1 coefficient spread wider so component 0 must capture it
    val p1 = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val p2 = Array(0f, 0f, 0f, 0f, 1f, -1f, 1f, -1f)
    val rows = (0 until 40).map { i =>
      val a = (i % 8).toFloat * 3f; val b = (i % 3).toFloat
      (i.toLong, Array.tabulate(8)(d => a * p1(d) + b * p2(d) + 0.5f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val basis = Similarity.pcaBasis(df, "embedding", k = 4)
    val comps = basis.orderBy("comp_id").collect()
      .map(r => (r.getSeq[Float](1).toArray, r.getDouble(2)))
    assert(comps.length === 4 && comps.forall(_._1.length === 8))
    // explained-variance proportions: descending, in [0,1], Σ ≤ 1 + ε;
    // rank-2 data → the first two carry everything
    val evs = comps.map(_._2)
    assert(evs.zip(evs.tail).forall { case (x, y) => x >= y - 1e-12 })
    assert(evs.forall(e => e >= -1e-12 && e <= 1.0 + 1e-12))
    assert(evs.take(2).sum > 0.999 && evs.sum <= 1.0 + 1e-9)
    // orthonormal columns (null-space components included)
    for (i <- comps.indices; j <- i until comps.length) {
      val d = comps(i)._1.zip(comps(j)._1).map { case (x, y) =>
        x.toDouble * y }.sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-5,
        s"c${i}.c${j}=$d")
    }
    // projection: centering makes the projected mean ~0 per component
    val proj = Similarity.pcaProject("embedding", basis)(df)
      .select("vec_id", "pca").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val mean = Array.tabulate(4)(j => rows.indices
      .map(i => proj(i.toLong)(j).toDouble).sum / rows.length)
    assert(mean.forall(m => math.abs(m) < 1e-4))
    // isometry: data is rank-2, so 4 components preserve every pairwise
    // distance (rotation + centering never stretches)
    def d2(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => val d = x - y; d.toDouble * d }.sum
    for (i <- 0 until 10; j <- i + 1 until 10) {
      val orig = d2(rows(i)._2, rows(j)._2)
      val got = d2(proj(i.toLong), proj(j.toLong))
      assert(math.abs(orig - got) < 1e-3 * (orig + 1), s"($i,$j)")
    }
    // per-component projected variance matches the claimed proportions
    val n = rows.length.toDouble
    val vars = Array.tabulate(2)(j => rows.indices
      .map(i => math.pow(proj(i.toLong)(j) - mean(j), 2)).sum / (n - 1))
    val total = vars.sum / (evs(0) + evs(1)) // rank-2: first two are all
    assert(math.abs(vars(0) / total - evs(0)) < 1e-3)
  }

  test("robotsRules/robotsFilter: star-group scope, longest match, allow-wins ties") {
    val hosts = Seq(
      ("h1", "User-agent: evil\nDisallow: /\nUser-agent: *\n" +
        "Disallow: /a\nAllow: /a/b\nDisallow: \nUser-agent: other\nAllow: /zz"),
      ("h2", "User-agent: none\nDisallow: /")  // no star group at all
    ).toDF("host", "robots")
    val rules = TextOps.robotsRules("host", "robots")(hosts)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSet
    // star group only: evil's and other's rules absent; empty Disallow dropped
    assert(rules === Set(("h1", "/a", false), ("h1", "/a/b", true)))
    val rulesDf = TextOps.robotsRules("host", "robots")(hosts)
    val urls = Seq(
      (1L, "https://h1/a/b/c"),   // /a/b (allow, len 4) beats /a (deny)
      (2L, "https://h1/a/x"),     // only /a matches -> denied
      (3L, "https://h1/free"),    // no rule matches -> allowed
      (4L, "https://h2/a/b"),     // host without star rules -> allowed
      (5L, "not a url")           // unparsable host -> allowed, no throw
    ).toDF("id", "url")
    val verdicts = TextOps.robotsFilter("id", "url", rulesDf,
      keepDenied = true)(urls)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(verdicts === Map(1L -> true, 2L -> false, 3L -> true,
      4L -> true, 5L -> true))
    // equal-length tie: Allow wins over Disallow of the same prefix length
    val tie = Seq(("t", "User-agent: *\nDisallow: /aa\nAllow: /ab"))
      .toDF("host", "robots")
    val tieRules = TextOps.robotsRules("host", "robots")(tie)
      .union(Seq(("t", "/ab", false)).toDF("host", "prefix", "allow"))
    val v = TextOps.robotsFilter("id", "url", tieRules, keepDenied = true)(
      Seq((9L, "https://t/ab/x")).toDF("id", "url")).head()
    assert(v.getBoolean(2) === true)
    // default mode drops denied rows
    assert(TextOps.robotsFilter("id", "url", rulesDf)(urls).count() === 4)
    // the broadcast-fold serving form returns identical verdicts to the
    // join+window batch form, matched prefixes included
    def modeVerdicts(bc: Boolean) =
      TextOps.robotsFilter("id", "url", rulesDf, keepDenied = true,
        broadcastRules = bc)(urls)
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(2), Option(r.getString(3)))).toMap
    assert(modeVerdicts(bc = true) === modeVerdicts(bc = false))
  }

  test("crawlSchedule: slot capacity, priority order, NULL-host queue") {
    val urls = Seq(
      (1L, "https://h1/a", 5), (2L, "https://h1/b", 9),
      (3L, "https://h1/c", 1), (4L, "https://h1/d", 9),
      (5L, "https://h2/a", 0), (6L, "not a url", 3))
      .toDF("id", "url", "priority")
    val out = TextOps.crawlSchedule("id", "url", "priority",
      perHostPerSlot = 2)(urls)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getString(3)), r.getInt(4))).toMap
    // h1 queue by (priority desc, id asc): 2, 4, 1, 3 -> slots 0,0,1,1
    assert(out(2L) === (Some("h1"), 0) && out(4L) === (Some("h1"), 0))
    assert(out(1L) === (Some("h1"), 1) && out(3L) === (Some("h1"), 1))
    assert(out(5L) === (Some("h2"), 0)) // each host starts at slot 0
    // unparsable host schedules under the NULL queue rather than vanishing
    assert(out(6L)._1.isEmpty && out(6L)._2 === 0)
    // capacity invariant: never more than perHostPerSlot per (host, slot)
    val caps = TextOps.crawlSchedule("id", "url", "priority",
      perHostPerSlot = 2)(urls)
      .groupBy("host", "fetch_slot").count()
      .select("count").as[Long].collect()
    assert(caps.forall(_ <= 2))
  }

  test("scrubCards: Luhn-gated redaction — valid PANs out, lookalikes kept") {
    val df = Seq((1L,
      "pay 4539578763621486 or 4111111111111111 not 4539578763621487 " +
        "ref 79927398713 order 123456789012345678901 id 12345"))
      .toDF("id", "text")
    val clean = df.select(TextOps.scrubCards(col("text")).as("c"))
      .head().getString(0)
    // both valid 16-digit PANs redacted; the checksum-failing twin kept
    assert(clean.contains("<CARD>"))
    assert(!clean.contains("4539578763621486") &&
      !clean.contains("4111111111111111"))
    assert(clean.contains("4539578763621487"))
    // Luhn-valid but 11 digits: below the PAN length gate, kept
    assert(clean.contains("79927398713"))
    // 21 digits: above the gate; 5 digits: below — both kept
    assert(clean.contains("123456789012345678901") && clean.contains("12345"))
    // luhnValid edge: empty string is invalid, not a descending-sequence crash
    val edge = Seq(("", false), ("0", true), ("059", true), ("18", true))
      .toDF("d", "want")
      .select(TextOps.luhnValid(col("d")).as("got"), col("want"))
      .collect()
    edge.foreach(r => assert(r.getBoolean(0) === r.getBoolean(1)))
  }

  test("collocations: exact lift arithmetic, minCount floor, tie discipline") {
    // corpus: "a b" ×4 adjacent, plus scattered singles diluting unigrams
    val docs = Seq(
      (1L, "a b a b x"),   // bigrams: (a,b)(b,a)(a,b)(b,x)
      (2L, "a b a b y"),   // bigrams: (a,b)(b,a)(a,b)(b,y)
      (3L, "z z z")        // bigrams: (z,z)(z,z)
    ).toDF("doc_id", "text")
    val out = TextOps.collocations("text", minCount = 2, k = 10)(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // Nbg = 10, Nuni = 13; (a,b): n12=4, n1=4, n2=4
    // lift = (4/10)/((4/13)(4/13)) = 0.4·169/16 = 4.225
    val (n12, n1, n2, lift) = out(("a", "b"))
    assert(n12 === 4L && n1 === 4L && n2 === 4L)
    assert(math.abs(lift - 4.225) < 1e-12)
    // (z,z): n12=2, n=3 → lift = (2/10)/((3/13)(3/13)) = 0.2·169/9
    assert(math.abs(out(("z", "z"))._4 - 0.2 * 169.0 / 9.0) < 1e-12)
    // hapax pairs (b,x)(b,y) fall below the minCount floor
    assert(!out.contains(("b", "x")) && !out.contains(("b", "y")))
    // (b,a) survives at n12=2
    assert(out(("b", "a"))._1 === 2L)
  }

  test("tfidfCosinePairs: identity = 1.0, rare-term overlap beats stopword overlap, df cap prunes") {
    val docs = Seq(
      (1L, "aardvark zebra the of and"),
      (2L, "aardvark zebra the of and"),  // identical to 1
      (3L, "aardvark quokka the of and"), // shares rare 'aardvark' with 1/2
      (4L, "platypus quokka the of and"), // shares only stopwords with 1/2
      (5L, "totally disjoint vocabulary here now")
    ).toDF("doc_id", "text")
    val out = TextOps.tfidfCosinePairs("doc_id", "text", threshold = 0.0)(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs: exact cosine 1.0 (same pinned fold both sides)
    assert(out((1L, 2L)) === 1.0)
    // rare-term overlap outranks the same-count stopword overlap
    assert(out((1L, 3L)) > out((1L, 4L)))
    // doc 5 shares no term with 1 -> no pair row at all
    assert(!out.contains((1L, 5L)))
    // df cap drops hot terms from the space: with maxDf = 1 the shared
    // 'aardvark' (df = 3) is gone and 1-3 lose their only shared term
    val capped = TextOps.tfidfCosinePairs("doc_id", "text", threshold = 0.0,
      maxDf = 1)(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((1L, 3L)))
  }

  test("decontaminate drops only docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "the secret eval answer is forty two exactly"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "prefix words the secret eval answer is forty two exactly suffix"),
      (2L, "completely unrelated training document with clean text"),
      (3L, "the secret eval answer differs here by one token yes")
    ).toDF("doc_id", "text")
    val kept = TextOps.decontaminate("doc_id", "text", n = 8, bench, "text")(batch)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // doc 1 contains the full benchmark 8-gram; doc 3 shares at most 7
    assert(kept === Seq(2L, 3L))
  }

  test("contaminationReport counts matched vs total grams, (0,0) for gramless docs") {
    val bench = Seq((100L, "the secret eval answer is forty two exactly"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // 11 tokens -> 4 distinct 8-grams; the 8-token benchmark has
      // exactly one gram ("the secret ... exactly"), present in doc 1
      (1L, "prefix words the secret eval answer is forty two exactly suffix"),
      (2L, "completely unrelated training document with clean and tidy text"),
      (3L, "short") // < 8 tokens: no grams at all
    ).toDF("doc_id", "text")
    val out = TextOps.contaminationReport("doc_id", "text", n = 8,
      bench, "text")(batch)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === ((1L, 4L)))
    assert(out(2L)._1 === 0L && out(2L)._2 > 0L)
    assert(out(3L) === ((0L, 0L)))
  }

  test("contaminationReportPerBenchmark attributes matches to each benchmark") {
    val bench = Seq(
      ("suiteA", "the secret eval answer is forty two exactly"),
      ("suiteB", "another holdout question nobody should train on here"),
      // suiteB shares doc 1's gram TOO (both suites claim it): the pair
      // counts once per benchmark, never twice within one
      ("suiteB", "the secret eval answer is forty two exactly")
    ).toDF("bench_id", "text")
    val batch = Seq(
      // 11 tokens -> 4 distinct 8-grams, one of them the shared gram
      (1L, "prefix words the secret eval answer is forty two exactly suffix"),
      (2L, "another holdout question nobody should train on here verbatim"),
      (3L, "completely unrelated training document with clean and tidy text")
    ).toDF("doc_id", "text")
    val out = TextOps.contaminationReportPerBenchmark("doc_id", "text", n = 8,
      bench, "text", "bench_id")(batch)
      .as[(Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // doc 1's shared gram attributes to BOTH suites, once each
    assert(out((1L, "suiteA")) === ((1L, 4L)))
    assert(out((1L, "suiteB")) === ((1L, 4L)))
    // doc 2 (9 tokens -> 2 grams) matches suiteB's single gram only
    assert(out((2L, "suiteB")) === ((1L, 2L)))
    assert(!out.contains((2L, "suiteA")))
    // clean docs are absent by construction
    assert(!out.keys.exists(_._1 == 3L))
  }

  test("quotaSample caps each group deterministically by content hash") {
    val df = (1L to 100L).map(i => (i, if (i <= 90) "big" else "small"))
      .toDF("id", "grp")
    val a = Ops.quotaSample("grp", "id", n = 15)(df)
    val b = Ops.quotaSample("grp", "id", n = 15)(df)
    val byGrp = a.groupBy("grp").count().as[(String, Long)].collect().toMap
    // the 90-row group is capped, the 10-row group survives whole
    assert(byGrp === Map("big" -> 15L, "small" -> 10L))
    // same rows every run (content-hash order, not RNG)
    assert(a.select("id").as[Long].collect().sorted.toSeq ===
      b.select("id").as[Long].collect().sorted.toSeq)
    // a different salt draws a different capped subset
    val salted = Ops.quotaSample("grp", "id", n = 15, salt = "s2")(df)
    assert(salted.select("id").as[Long].collect().sorted.toSeq !==
      a.select("id").as[Long].collect().sorted.toSeq)
  }

  test("packSequences fills budget bins sequentially per shard") {
    val docs = Seq(
      (1L, "s", 1000), (2L, "s", 1000), (3L, "s", 100), // doc3 starts at 2000
      (4L, "s", 2048),                                  // exactly one budget
      (5L, "t", 5000)                                   // other shard, bin 0
    ).toDF("doc_id", "shard", "n")
    val bins = graft.ext.TextOps.packSequences("n", budget = 2048,
      shardField = "shard", orderBy = Seq("doc_id"))(docs)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    // doc 2 STRADDLES the 2048 boundary but starts at offset 1000 -> bin 0;
    // doc 3 starts at 2000 < 2048 -> still bin 0; doc 4 starts at 2100 -> bin 1
    assert(bins === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
  }

  test("repetitionStats flags looping text and passes diverse text") {
    val (dupFrac, topShare) = TextOps.repetitionStats($"text")
    val out = Seq(
      (1L, "buy now buy now buy now"),            // looping generation
      (2L, "all tokens here are fully distinct"), // clean
      (3L, "one"),                                // no bigrams
      (4L, "")                                    // empty
    ).toDF("doc_id", "text")
      .select($"doc_id", dupFrac.as("df"), topShare.as("ts"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // doc 1: 6 tokens, 2 distinct -> dup 4/6; bigrams: "buy now"×3,
    // "now buy"×2 of 5 total -> top share 3/5
    assert(out(1L) === ((4.0 / 6.0, 3.0 / 5.0)))
    assert(out(2L) === ((0.0, 1.0 / 5.0))) // every bigram unique
    assert(out(3L) === ((0.0, 0.0)))
    assert(out(4L) === ((0.0, 0.0)))
  }

  test("winnowFingerprints guarantees a shared fingerprint for long shared substrings") {
    val shared = "the quick brown fox jumps over the lazy dog"
    val df = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"CCCCCC $shared DD"),
      (3L, "totally unrelated text with no overlap at all zzz")
    ).toDF("doc_id", "text")
    val fps = df.select($"doc_id",
      TextOps.winnowFingerprints($"text", k = 8, w = 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // shared substring of length >= k+w-1 = 11 chars -> common fingerprint
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("hashSplit covers every row, is deterministic, and roughly proportional") {
    val df = spark.range(5000).toDF("id")
    val split = df.select(TextOps.hashSplit($"id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
    val counts = split.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 5000L)
    assert(counts("train") > 3800 && counts("train") < 4200)
    assert(counts("val") > 350 && counts("val") < 650)
    val again = df.select(TextOps.hashSplit($"id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(again === counts)
  }

  test("scrubPii masks emails, IPs and long digit runs") {
    val out = Seq("mail bob.smith+x@corp.example.org or 10.0.0.1 acct 123456789 ok 42")
      .toDF("t").select(TextOps.scrubPii($"t")).as[String].head()
    assert(out === "mail <EMAIL> or <IP> acct <NUM> ok 42")
  }

  test("winnowFingerprints handles docs shorter than one window") {
    val fps = Seq((1L, "tiny")).toDF("doc_id", "text")
      .select(TextOps.winnowFingerprints($"text", 8, 4).as("fps"))
      .head().getSeq[Long](0)
    assert(fps.length === 1) // one gram (whole doc), one window
  }

  test("tokenBudgetMix keeps the maximal per-source prefix of the hash order") {
    val df = Seq(
      (1L, "a b c d", "s1"),  // 4 tokens each
      (2L, "e f g h", "s1"),
      (3L, "i j k l", "s1"),
      (4L, "m n o p", "s2")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.tokenBudgetMix("doc_id", "text", "source",
      tokensPerSource = 8)(df)
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .as[(String, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // s1 has 12 tokens against a budget of 8 -> exactly 2 of its 3 docs
    // survive, and which 2 is a pure function of md5("mix|id")
    val s1 = out.filter(_._1 == "s1")
    assert(s1.length === 2 && s1.map(_._4).max === 8L)
    assert(out.filter(_._1 == "s2").map(_._2).toSeq === Seq(4L))
    // prefix semantics: re-run selects the identical documents
    val again = TextOps.tokenBudgetMix("doc_id", "text", "source",
      tokensPerSource = 8)(df)
      .select("doc_id").as[Long].collect().toSet
    assert(again === out.map(_._2).toSet)
    // budget below the smallest doc -> that source contributes nothing
    val tiny = TextOps.tokenBudgetMix("doc_id", "text", "source",
      tokensPerSource = 3)(df).count()
    assert(tiny === 0L)
  }

  test("bpeTokenCount applies merges in rank order, greedy left-to-right") {
    def count(text: String, merges: Seq[(String, String)]): Long =
      Seq(Tuple1(text)).toDF("text")
        .select(TextOps.bpeTokenCount(col("text"), merges).as("n"))
        .head().getLong(0)
    // rank order: (t,h) then (th,e) -> "the" collapses to ONE token
    assert(count("the", Seq("t" -> "h", "th" -> "e")) === 1L)
    // greedy non-overlapping within a pass: aaa -> [aa, a]
    assert(count("aaa", Seq("a" -> "a")) === 2L)
    // merges stop at word boundaries; unmergeable chars stay chars
    assert(count("th th", Seq("t" -> "h")) === 2L)
    assert(count("xyz", Seq("t" -> "h")) === 3L)
    // later ranks see earlier ranks' symbols: (a,b) then (ab,c)
    assert(count("abc", Seq("a" -> "b", "ab" -> "c")) === 1L)
    // empty text: the single empty word counts zero subwords
    assert(count("", Seq("t" -> "h")) === 0L)
    // the native kernel refuses a rank-INCONSISTENT table ('th' never
    // formed) instead of silently diverging from true BPE...
    intercept[IllegalArgumentException](
      count("the", Seq("th" -> "e", "t" -> "h")))
    // ...while the HOF spec form accepts it with pass-per-rank
    // semantics: rank 0 (th,e) finds no 'th' symbol, rank 1 makes one
    def countHof(text: String, merges: Seq[(String, String)]): Long =
      Seq(Tuple1(text)).toDF("text")
        .select(TextOps.bpeTokenCountHof(col("text"), merges).as("n"))
        .head().getLong(0)
    assert(countHof("the", Seq("th" -> "e", "t" -> "h")) === 2L)
  }

  test("bpeTokenCount at production vocabulary scale: 50k-merge table, same counts") {
    // The vocab-size-independence claim behind SURVEY §8's scale note:
    // the same 10 firing ranks buried under ~50k junk merges (CJK
    // single-codepoint operands that never occur in the text) must
    // produce IDENTICAL counts — rank lookups are hash-map hits, not
    // merge-table scans, so dead vocabulary changes nothing. Also pins
    // that a real-vocabulary-sized table passes constructor validation
    // and executes at all (the HOF form, one pass per rank, could not).
    val junk: Seq[(String, String)] = (0 until 49_990).map { i =>
      (String.valueOf((0x4E00 + i / 256).toChar),
        String.valueOf((0x3400 + i % 256).toChar))
    }
    val big = TextOps.demoBpeMerges ++ junk
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "in the beginning there was a distributed shuffle"),
      (3L, "")).toDF("doc_id", "text")
    val demo = texts.select($"doc_id",
      TextOps.bpeTokenCount($"text", TextOps.demoBpeMerges).as("n"))
      .as[(Long, Long)].collect().toMap
    val scaled = texts.select($"doc_id",
      TextOps.bpeTokenCount($"text", big).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(scaled === demo)
    // and the pieces form agrees with the count under the big table
    val pieces = texts.select($"doc_id",
      size(TextOps.bpeTokenize($"text", big)).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(pieces === demo)
  }

  test("tokenBudgetMix accepts a pluggable counter (vocabulary-true budgets)") {
    // "the the the" = 3 whitespace tokens but 3 single BPE tokens under
    // (t,h)+(th,e) — and 9 characters under NO merges... use a 1-merge
    // vocab where each word is 2 subwords: budgets bite differently
    val df = Seq(
      (1L, "th th th", "s"),   // 3 ws tokens; 3 bpe tokens with (t,h)
      (2L, "ab ab ab", "s")    // 3 ws tokens; 6 bpe tokens with (t,h)
    ).toDF("doc_id", "text", "source")
    val bpe = (c: org.apache.spark.sql.Column) =>
      TextOps.bpeTokenCount(c, Seq("t" -> "h"))
    val out = TextOps.tokenBudgetMix("doc_id", "text", "source",
      tokensPerSource = 7, counter = bpe)(df)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    // billed counts are vocabulary-true, and whichever doc the hash
    // ranks first, the other (3 + 6 > 7) cannot also fit
    out.foreach { case (id, n) =>
      assert(n === (if (id == 1L) 3L else 6L))
    }
    assert(out.size === 1 && out.values.sum <= 7L)
    // the two-pass form takes the same knob and selects identically
    val twoPass = TextOps.tokenBudgetMixTwoPass("doc_id", "text", "source",
      tokensPerSource = 7, counter = bpe)(df)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(twoPass === out)
    // packTexts bins by the plugged counter too
    val bins = TextOps.packTexts("doc_id", "text", "source", budget = 6,
      counter = bpe)(df)
    assert(bins.count() >= 1)
  }

  test("tokenBudgetMixTwoPass selects identically to the single-pass form and drops the per-source global sort") {
    // 300 docs across 3 skew-heavy sources with varying token counts —
    // enough rows that bucket boundaries land mid-source and several
    // rank-prefix buckets are populated per source
    val df = (1L to 300L).map { i =>
      val src = if (i <= 200) "big" else if (i <= 280) "mid" else "small"
      (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" "), src)
    }.toDF("doc_id", "text", "source")
    for (budget <- Seq(10L, 97L, 1000L)) {
      val one = TextOps.tokenBudgetMix("doc_id", "text", "source",
        tokensPerSource = budget)(df)
        .as[(String, Long, Long, Long)].collect().toSet
      val two = TextOps.tokenBudgetMixTwoPass("doc_id", "text", "source",
        tokensPerSource = budget)(df)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(two === one, s"two-pass selection diverges at budget $budget")
    }
    // the doc-level cumulative window must partition by (source, bucket),
    // never by source alone — the per-source global sort is the thing
    // this form exists to remove (the only source-only window left is
    // the <=256-row bucket-offset one, which orders by __bkt)
    val plan = TextOps.tokenBudgetMixTwoPass("doc_id", "text", "source",
      tokensPerSource = 97)(df).queryExecution.executedPlan.toString
    val docWindows = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("__rk"))
      .toSeq
    assert(docWindows.nonEmpty, s"no doc-level window found:\n$plan")
    docWindows.foreach(l => assert(l.contains("__bkt"),
      s"doc-level window not bucket-partitioned:\n$l"))
  }

  test("packTexts concatenates each bin in id order with exact counts") {
    val df = Seq(
      (2L, "c d", "en"),   // 2 tokens
      (1L, "a b", "en"),   // 2 tokens — packs first (id order)
      (3L, "e f g", "en"), // overflows the 4-token bin -> bin 1
      (4L, "x y", "de")
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.packTexts("doc_id", "text", "lang", budget = 4)(df)
      .select("lang", "bin", "n_docs", "n_tokens", "text")
      .as[(String, Long, Long, Long, String)].collect().toSet
    assert(out === Set(
      ("en", 0L, 2L, 4L, "a b c d"),
      ("en", 1L, 1L, 3L, "e f g"),
      ("de", 0L, 1L, 2L, "x y")))
  }

  test("unigramCfQuality scores corpus-common tokens above rare ones") {
    val df = Seq(
      (1L, "the the the"), // cf(the)=4 -> mean 4
      (2L, "the zzz")      // (4 + 1) / 2
    ).toDF("doc_id", "text")
    val out = TextOps.unigramCfQuality("doc_id", "text")(df)
      .select("doc_id", "n_tokens", "cf_sum", "mean_cf")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 3L, 12L, 4.0), (2L, 2L, 5L, 2.5)))
  }

  test("chunkTexts slides overlapping windows and clamps the tail") {
    val df = Seq((1L, "a b c d e f g"), (2L, "x")).toDF("doc_id", "text")
    val out = TextOps.chunkTexts("doc_id", "text", chunkTokens = 4,
      stride = 3)(df)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_tokens",
        "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, 4L, "a b c d"),
      (1L, 1L, 3L, 4L, "d e f g"),  // 1-token overlap with chunk 0
      (1L, 2L, 6L, 1L, "g"),        // clamped tail
      (2L, 0L, 0L, 1L, "x")))       // doc shorter than one chunk
  }

  test("meanPool averages vectors per group with a deterministic fold") {
    val df = Seq(
      (3L, Array(1.0f, 2.0f), "a"),
      (1L, Array(3.0f, 4.0f), "a"),
      (2L, Array(10.0f, 20.0f), "b")
    ).toDF("vec_id", "embedding", "grp")
    val out = Similarity.meanPool("vec_id", "embedding", "grp")(df)
      .select("grp", "dim", "mean_val")
      .as[(String, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      ("a", 0L, 2.0), ("a", 1L, 3.0),   // (3+1)/2, (4+2)/2
      ("b", 0L, 10.0), ("b", 1L, 20.0))) // singleton = itself
  }

  test("filterFunnel reports independent and cumulative rule counts") {
    import graft.probes.Probes
    val df = Seq(
      (1L, 10, "en"), (2L, 30, "en"), (3L, 30, "de"), (4L, 50, "en")
    ).toDF("id", "len", "lang")
    val out = Probes.filterFunnel(Seq(
      "long_enough" -> (col("len") >= 30),
      "english" -> (col("lang") === "en")))(df)
      .select("step", "rule", "pass_count", "surviving_count", "total")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq(
      (0L, "long_enough", 3L, 3L, 4L),
      (1L, "english", 3L, 2L, 4L))) // en&long: docs 2 and 4

    // empty input reports 0-counts, not a row of nulls
    val empty = Probes.filterFunnel(Seq("any" -> (col("len") >= 0)))(
      df.filter(col("len") < 0))
      .select("pass_count", "surviving_count", "total")
      .as[(Long, Long, Long)].collect()
    assert(empty.toSeq === Seq((0L, 0L, 0L)))
  }

  test("sourceOverlap reports exact pairwise n-gram Jaccard") {
    val df = Seq(
      (1L, "a b c d e", "s1"),   // s1 trigrams: {abc bcd cde}
      (2L, "a b c x y", "s2"),   // s2: {abc bcx cxy}
      (3L, "p q r s t", "s3")    // s3: disjoint
    ).toDF("doc_id", "text", "source")
    val out = TextOps.sourceOverlap("source", "text", n = 3)(df)
      .as[(String, String, Long, Double)].collect()
    // only the (s1, s2) pair shares grams: 1 common of 5 distinct total
    assert(out.toSeq === Seq(("s2", "s1", 1L, 0.2))
      || out.toSeq === Seq(("s1", "s2", 1L, 0.2)))
  }

  test("sourceOverlap gram sampling estimates the full jaccard deterministically") {
    // two sources sharing exactly half their grams: s1 and s2 each hold
    // the 200 shared words' trigram stream plus 200 private words
    val rnd = new scala.util.Random(7)
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag${rnd.nextInt(99999)}_$i")
    val shared = words("sh", 400).mkString(" ")
    val df = Seq(
      (1L, shared + " " + words("a", 400).mkString(" "), "s1"),
      (2L, shared + " " + words("b", 400).mkString(" "), "s2")
    ).toDF("doc_id", "text", "source")
    val full = TextOps.sourceOverlap("source", "text", n = 3)(df)
      .select("jaccard").as[Double].head()
    val est = TextOps.sourceOverlap("source", "text", n = 3,
      gramFraction = 0.5)(df)
      .select("jaccard").as[Double].head()
    // a consistent estimator: within a loose band of the true value at
    // this sample size (~400 sampled grams per source)
    assert(math.abs(est - full) < 0.15,
      s"estimate $est too far from full $full")
    // deterministic subspace: rerun is bit-identical
    val again = TextOps.sourceOverlap("source", "text", n = 3,
      gramFraction = 0.5)(df)
      .select("jaccard").as[Double].head()
    assert(again === est)
    // fraction bounds enforced
    intercept[IllegalArgumentException](
      TextOps.sourceOverlap("source", "text", 3, gramFraction = 0.0)(df))
  }

  test("triangleStats: exact counts, direction/multi-edge/self-loop hygiene, coefficient") {
    import graft.ext.GraphOps
    // K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant 5-1
    // and an isolated edge 6-7; reversed duplicates, a self-loop, and
    // NULL endpoints must not change anything
    val k4 = for {
      a <- 1 to 4; b <- 1 to 4 if a < b
    } yield (a, b)
    val edges = (k4 ++ Seq((5, 1), (1, 5), (2, 1), (3, 3), (6, 7)))
      .toDF("src", "dst")
      .unionByName(Seq((Option.empty[Int], Option(9)),
        (Option(9), Option.empty[Int])).toDF("src", "dst"))
    val out = GraphOps.triangleStats("src", "dst")(edges)
      .orderBy("node").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5, 6, 7))
    val byNode = out.map(r => r.getInt(0) ->
      (r.getAs[Long]("degree"), r.getAs[Long]("triangles"))).toMap
    assert(byNode(1) == (4L, 3L)) // K4 member + pendant edge to 5
    assert(byNode(2) == (3L, 3L) && byNode(3) == (3L, 3L) &&
      byNode(4) == (3L, 3L))
    assert(byNode(5) == (1L, 0L) && byNode(6) == (1L, 0L))
    // coefficient: node 2 closes all 3 of its C(3,2) wedges -> 1.0;
    // node 1 closes 3 of C(4,2)=6 -> 0.5; degree-1 nodes -> NULL
    val coeff = out.map(r => r.getInt(0) ->
      (if (r.isNullAt(r.fieldIndex("clustering"))) None
      else Some(r.getAs[Double]("clustering")))).toMap
    assert(coeff(2).contains(1.0) && coeff(1).contains(0.5))
    assert(coeff(5).isEmpty && coeff(7).isEmpty)
    // total triangles = sum/3 = 4 (K4's count, nothing phantom)
    assert(out.map(_.getAs[Long]("triangles")).sum == 12L)
  }

  test("tokenShift: rational TV contributions, top-k rank discipline, NULL text") {
    // src A: 3×x 1×y of 4; src B: 1×x 3×z of 4; corpus: x=4/8 y=1/8 z=3/8
    val df = Seq(
      ("A", "x x x y"), ("B", "x z z z"),
      ("A", null.asInstanceOf[String]), ("B", ""))
      .toDF("source", "text")
    val out = TextOps.tokenShift("source", "text", k = 2)(df)
      .orderBy("source", "rank").collect()
    assert(out.length == 4) // two groups × k
    val a1 = out(0) // A's biggest mover
    assert(a1.getString(0) == "A" && a1.getString(1) == "x")
    assert(a1.getAs[Long]("grp_count") == 3L &&
      a1.getAs[Long]("corpus_count") == 4L)
    assert(a1.getAs[Double]("grp_share") == 0.75 &&
      a1.getAs[Double]("corpus_share") == 0.5 &&
      a1.getAs[Double]("shift") == 0.25)
    // B: z shifted +0.375, x shifted -0.25 — rank order by |shift|
    val b = out.filter(_.getString(0) == "B")
    assert(b(0).getString(1) == "z" &&
      b(0).getAs[Double]("shift") == 0.375)
    assert(b(1).getString(1) == "x" &&
      b(1).getAs[Double]("shift") == -0.25)
    // tokens absent from a group never emit a row for it
    assert(!out.exists(r => r.getString(0) == "A" && r.getString(1) == "z"))
  }

  test("fimTransform: PSM reconstruction invariant, rate, NULL edge") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val out = TextOps.fimTransform("doc_id", "text", fimRate = 0.5)(docs)
      .join(docs, "doc_id").collect()
    var applied = 0
    out.foreach { r =>
      val (isFim, fim, orig) = (r.getBoolean(1), r.getString(2), r.getString(3))
      if (isFim) {
        applied += 1
        // P + M + S rebuilds the original document exactly
        val m = "(?s)<fim_prefix>(.*)<fim_suffix>(.*)<fim_middle>(.*)".r
        fim match {
          case m(p, sfx, mid) => assert(p + mid + sfx === orig,
            s"doc ${r.getLong(0)} failed PSM reconstruction")
          case _ => fail(s"doc ${r.getLong(0)}: bad PSM layout: $fim")
        }
      } else assert(fim === orig)
    }
    // ~half the docs transformed (hash Bernoulli at 0.5)
    assert(applied > out.length / 3 && applied < out.length * 2 / 3)
    // deterministic across reruns
    val rerun = TextOps.fimTransform("doc_id", "text", fimRate = 0.5)(docs)
      .collect()
    assert(rerun.map(_.toSeq).toSet ===
      out.map(_.toSeq.dropRight(1)).toSet)
    // NULL text: never applied, NULL out
    val n = TextOps.fimTransform("doc_id", "text")(
      Seq((1L, null: String)).toDF("doc_id", "text")).head
    assert(!n.getBoolean(1) && n.isNullAt(2))
  }

  test("spanCorrupt: reconstruction invariant, sentinel order, edges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val out = TextOps.spanCorrupt("doc_id", "text",
      maskProb = 0.3, spanLen = 3)(docs)
      .join(docs, "doc_id")
      .select("doc_id", "input_text", "target_text", "n_masked_spans", "text")
      .collect()
    assert(out.length === docs.count())
    // the denoising contract: substituting each sentinel in the input
    // with its target span reconstructs the original token stream
    out.foreach { r =>
      val (inp, tgt, orig) = (r.getString(1), r.getString(2), r.getString(4))
      val spans = tgt.split("<extra_id_\\d+>").map(_.trim).drop(1)
      var rebuilt = inp
      spans.zipWithIndex.foreach { case (sp, i) =>
        rebuilt = rebuilt.replace(s"<extra_id_$i>", sp)
      }
      assert(rebuilt === orig, s"doc ${r.getLong(0)} failed reconstruction")
      // sentinel ids are consecutive from 0 in document order
      val ids = "<extra_id_(\\d+)>".r.findAllMatchIn(inp)
        .map(_.group(1).toInt).toSeq
      assert(ids === (0 until ids.length))
      assert(r.getLong(3) === ids.length.toLong)
    }
    // ~30% of tokens masked in aggregate (block Bernoulli at 0.3)
    val maskedFrac = out.map(_.getLong(3) * 3).sum.toDouble /
      out.map(_.getString(4).split(" ").length).sum
    assert(maskedFrac > 0.2 && maskedFrac < 0.4, s"mask rate $maskedFrac")
    // determinism + NULL text edge
    val rerun = TextOps.spanCorrupt("doc_id", "text",
      maskProb = 0.3, spanLen = 3)(docs).collect()
    assert(rerun.map(_.toSeq).toSet === out.map(_.toSeq.dropRight(1)).toSet)
    val nullRow = TextOps.spanCorrupt("doc_id", "text")(
      Seq((1L, null: String)).toDF("doc_id", "text")).head
    assert(nullRow.getString(1) === "" || nullRow.getString(1).startsWith("<"))
  }

  test("ul2Mix: exact partition into regimes, paradigm tokens, S reconstruction") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val out = TextOps.ul2Mix("doc_id", "text")(docs)
      .join(docs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getString(5)))
    // every document lands in EXACTLY one regime
    assert(out.length === docs.count())
    assert(out.map(_._1).distinct.length === out.length)
    val byRegime = out.groupBy(_._2)
    assert(byRegime.keySet === Set("r", "s", "x"))
    // paradigm tokens match the regime
    out.foreach { case (_, reg, inp, _, _, _) =>
      val tok = Map("r" -> "[NLU] ", "s" -> "[S2S] ", "x" -> "[NLG] ")(reg)
      assert(inp.startsWith(tok))
    }
    // S regime: prefix + suffix reconstructs the original exactly
    byRegime("s").foreach { case (id, _, inp, tgt, ns, orig) =>
      assert(ns === 1L)
      val prefix = inp.stripPrefix("[S2S]").stripSuffix("<extra_id_0>")
        .trim
      val suffix = tgt.stripPrefix("<extra_id_0>").trim
      val rebuilt = (prefix.split(" ").filter(_.nonEmpty) ++
        suffix.split(" ").filter(_.nonEmpty)).mkString(" ")
      val want = orig.split(" ").filter(_.nonEmpty).mkString(" ")
      assert(rebuilt === want, s"doc $id failed S reconstruction")
    }
    // routing is hash-stable: same fractions every run
    val rerun = TextOps.ul2Mix("doc_id", "text")(docs)
      .select("doc_id", "regime").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.forall { case (id, reg, _, _, _, _) => rerun(id) == reg })
    intercept[IllegalArgumentException](
      TextOps.ul2Mix("doc_id", "text", rWeight = 0.9, sWeight = 0.9)(docs))
  }

  test("annealMixSchedule: share ratios walk from natural to uniform") {
    // head:tail = 1600:100 -> phase 0 (alpha 1) ratio 16, phase 1
    // (alpha 1/2) ratio 4, phase 2 (alpha 0) ratio 1
    val df = ((1 to 1600).map(i => (i.toLong, "head")) ++
      (2001 to 2100).map(i => (i.toLong, "tail")))
      .toDF("doc_id", "source")
    val rows = TextOps.annealMixSchedule("source", phases = 3)(df)
      .collect().map(r => ((r.getLong(0), r.getString(2)),
        (r.getLong(1), r.getDouble(5)))).toMap
    def ratio(p: Long) = rows((p, "head"))._2 / rows((p, "tail"))._2
    assert(math.abs(ratio(0) - 16.0) < 1e-9)
    assert(math.abs(ratio(1) - 4.0) < 1e-9)
    assert(math.abs(ratio(2) - 1.0) < 1e-12)
    // alpha grid annotated; per-phase shares sum to 1
    assert(Seq(0L, 1L, 2L).map(p => rows((p, "head"))._1) === Seq(4L, 2L, 0L))
    Seq(0L, 1L, 2L).foreach { p =>
      val s = rows((p, "head"))._2 + rows((p, "tail"))._2
      assert(math.abs(s - 1.0) < 1e-12)
    }
    intercept[IllegalArgumentException](
      TextOps.annealMixSchedule("source", phases = 1)(df))
    intercept[IllegalArgumentException](
      TextOps.annealMixSchedule("source", phases = 3, startQuarters = 5)(df))
  }

  test("temperatureMix: sqrt flattening, rate cap, rerun determinism") {
    // head source 1600 rows, tail 100: at T=2 the share ratio must be
    // √16 = 4, not 16 — the flattening IS the semantics
    val df = ((1 to 1600).map(i => (i.toLong, "head")) ++
      (2001 to 2100).map(i => (i.toLong, "tail")))
      .toDF("doc_id", "source")
    val rates = TextOps.temperatureMix("doc_id", "source",
      budgetRows = 200)(df)
      .select("source", "sample_rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // share_head/share_tail = √(1600/100) = 4 ⇒ rate ratio = 4/16 = .25
    assert(math.abs(rates("head") / rates("tail") - 0.25) < 1e-12)
    // a tiny source whose allocation exceeds its size caps at rate 1
    val withTiny = df.unionByName(Seq((3001L, "micro")).toDF("doc_id", "source"))
    val tinyRate = TextOps.temperatureMix("doc_id", "source",
      budgetRows = 2000)(withTiny)
      .filter(col("source") === "micro")
      .select("sample_rate").head.getDouble(0)
    assert(tinyRate === 1.0)
    // deterministic: identical keep-set across reruns
    val a = TextOps.temperatureMix("doc_id", "source", 200)(df)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = TextOps.temperatureMix("doc_id", "source", 200)(df)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b && a.nonEmpty)
    intercept[IllegalArgumentException] {
      TextOps.temperatureMix("doc_id", "source", 0)(df)
    }
    // r13 ADVICE: NULL-source rows form their own √-smoothed group and
    // are SAMPLED (null-safe join), never dropped by NULL != NULL
    val withNull = df.unionByName(
      (5001 to 5100).map(i => (i.toLong, Option.empty[String]))
        .toDF("doc_id", "source"))
    val sampled = TextOps.temperatureMix("doc_id", "source",
      budgetRows = 10000)(withNull) // budget ≥ corpus ⇒ every rate = 1.0
    assert(sampled.filter(col("source").isNull).count() === 100L)
    assert(sampled.count() === withNull.count())
  }

  test("rrfFuse: rank-only fusion, one-list items, tie discipline") {
    // ranker A: q1 -> (x@1, y@2); ranker B: q1 -> (y@1, z@2)
    val a = Seq((1L, "x", 1), (1L, "y", 2)).toDF("query_id", "item_id", "rank")
    val b = Seq((1L, "y", 1), (1L, "z", 2)).toDF("query_id", "item_id", "rank")
    val out = Similarity.rrfFuse(a, b, k0 = 60, topK = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getInt(3))).toSeq
    // y appears in both lists: 1/62 + 1/61 — the consensus item wins
    // over either ranker's own #1; one-list items carry one term
    assert(out.map(_._1) === Seq("y", "x", "z"))
    assert(out(0)._2 === 1.0 / 62 + 1.0 / 61)
    assert(out(1)._2 === 1.0 / 61)
    assert(out(2)._2 === 1.0 / 62)
    // identical (ra, rb) pairs tie and break on item_id ascending
    val t1 = Seq((1L, "b", 1), (1L, "a", 2)).toDF("query_id", "item_id", "rank")
    val t2 = Seq((1L, "a", 1), (1L, "b", 2)).toDF("query_id", "item_id", "rank")
    val tied = Similarity.rrfFuse(t1, t2).orderBy("rank").collect()
      .map(_.getString(1)).toSeq
    assert(tied === Seq("a", "b"))
    // a query present in only one ranker still fuses
    val onlyA = Seq((7L, "w", 1)).toDF("query_id", "item_id", "rank")
    val empty = Seq.empty[(Long, String, Int)].toDF("query_id", "item_id", "rank")
    val solo = Similarity.rrfFuse(onlyA, empty).collect()
    assert(solo.length === 1 && solo(0).getDouble(2) === 1.0 / 61)
    intercept[IllegalArgumentException](Similarity.rrfFuse(a, b, k0 = 0))
  }

  test("anchorTexts/anchorTermCounts: pair extraction, case, nesting, empty guards") {
    val html = """<a href="/a">one two</a> x
      |<A CLASS="y" HREF="/b">one</A>
      |<a href="/a">two  three</a>
      |<a name="no-href">skip</a> <a href="/c"></a>""".stripMargin
    val df = Seq((1L, html), (2L, null: String)).toDF("id", "html")
    val pairs = df.filter(col("id") === 1)
      .select(explode(TextOps.anchorTexts(col("html"))).as("a"))
      .select("a.href", "a.anchor").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pairs === Seq("/a" -> "one two", "/b" -> "one",
      "/a" -> "two  three", "/c" -> ""))
    // NULL html -> empty array
    assert(df.filter(col("id") === 2)
      .select(size(TextOps.anchorTexts(col("html")))).head.getInt(0) === 0)
    // term index: counts pool across anchors to the same target;
    // whitespace runs produce no empty terms
    val terms = TextOps.anchorTermCounts("html")(df)
      .orderBy("href", "term").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(terms === Seq(("/a", "one", 1L), ("/a", "three", 1L),
      ("/a", "two", 2L), ("/b", "one", 1L)))
  }

  test("domainQualityGate: site-level pass-rate gates docs; NULL url and minDocs branches") {
    // good.com: 3/4 pass (0.75); bad.com: 1/4 (0.25); tiny.com: 1/1
    // but below minDocs; one NULL-url row (no reputation to borrow)
    def row(i: Long, host: String, pass: Boolean) =
      (i, if (host == null) null else s"https://$host/p/$i",
        if (pass) 200L else 100L)
    val df = ((1L to 4L).map(i => row(i, "www.good.com", i <= 3)) ++
      (5L to 8L).map(i => row(i, "www.bad.com", i == 5)) ++
      Seq(row(9L, "www.tiny.com", true), row(10L, null, true)))
      .toDF("doc_id", "url", "len")
    val out = TextOps.domainQualityGate("url", col("len") >= 150,
      minFrac = 0.5, minDocs = 2)(df)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))
    val r = out.orderBy("doc_id").head
    assert(r.getAs[String]("registered_domain") === "good.com" &&
      r.getAs[Long]("domain_docs") === 4L &&
      r.getAs[Long]("domain_passes") === 3L)
    // at minDocs = 1 the tiny domain survives; the NULL-url row forms
    // the NULL domain (pass-rate 1.0) and survives as itself
    val lax = TextOps.domainQualityGate("url", col("len") >= 150,
      minFrac = 0.5, minDocs = 1)(df)
    assert(lax.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 9L, 10L))
    assert(lax.filter(col("doc_id") === 10)
      .select("registered_domain").head.isNullAt(0))
    intercept[IllegalArgumentException](
      TextOps.domainQualityGate("url", col("len") >= 0, minFrac = 1.5)(df))
  }

  test("canonicalUrl: every rule branch, non-URL passthrough, NULL") {
    val cases = Seq(
      // scheme+host case-fold, path case preserved
      "HTTP://ExAmple.com/A/B" -> "http://example.com/A/B",
      // default ports per scheme; non-default ports kept
      "http://a.com:80/x" -> "http://a.com/x",
      "https://a.com:443/x" -> "https://a.com/x",
      "https://a.com:80/x" -> "https://a.com:80/x",
      "http://a.com:8080/x" -> "http://a.com:8080/x",
      // fragment always dropped
      "http://a.com/x#frag" -> "http://a.com/x",
      // tracking params: mid, leading-with-follower, lone; real
      // params survive in order
      "http://a.com/x?q=1&utm_source=s" -> "http://a.com/x?q=1",
      "http://a.com/x?utm_a=1&q=2" -> "http://a.com/x?q=2",
      "http://a.com/x?fbclid=f" -> "http://a.com/x",
      "http://a.com/x?utm_a=1&gclid=g" -> "http://a.com/x",
      "http://a.com/x?q=1&r=2" -> "http://a.com/x?q=1&r=2",
      // a non-tracking utm-prefixed-but-separatorless key survives
      "http://a.com/x?utmx=1" -> "http://a.com/x?utmx=1",
      // trailing slash (incl. bare root); '//' tail untouched
      "http://a.com/x/" -> "http://a.com/x",
      "http://a.com/" -> "http://a.com",
      "http://a.com/x//" -> "http://a.com/x//",
      // whitespace trim; schemeless strings pass through un-lowered
      "  http://a.com/x " -> "http://a.com/x",
      "Not A Url" -> "Not A Url")
    val df = cases.zipWithIndex
      .map { case ((in, _), i) => (i.toLong, in) }.toDF("id", "u")
    val got = df.select(col("id"),
      TextOps.canonicalUrl(col("u")).as("c")).orderBy("id")
      .collect().map(_.getString(1)).toSeq
    assert(got === cases.map(_._2))
    val n = Seq((1L, null: String)).toDF("id", "u")
      .select(TextOps.canonicalUrl(col("u"))).head
    assert(n.isNullAt(0))
    // byCanonicalUrl: min-id keeper, canonical key kept in output
    val dups = Seq((3L, "http://a.com/x?utm_a=1"), (1L, "HTTP://A.COM/x/"),
      (2L, "http://b.com/y")).toDF("doc_id", "url")
    val kept = graft.ext.Dedup.byCanonicalUrl("url", "doc_id")(dups)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(kept === Seq(1L -> "http://a.com/x", 2L -> "http://b.com/y"))
  }

  test("lengthBucketBatches: quota validity, contiguous ids, sharded path stays valid") {
    val df = (1 to 300).map(i =>
      (i.toLong, Seq.fill(1 + i % 40)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.lengthBucketBatches("doc_id", "text",
      bucketTokens = 8, batchTokens = 100)(df)
    assert(out.count() === 300)
    // bucket arithmetic and the quota rule: a batch closes only when
    // the next doc would START past the quota, so total minus the
    // largest member is always < batchTokens
    assert(out.filter(col("bucket") =!=
      floor(col("n_tokens") / 8).cast("long")).count() === 0)
    val sums = out.groupBy("bucket", "shard", "batch")
      .agg(sum("n_tokens").as("tot"), max("n_tokens").as("mx"))
    assert(sums.filter(col("tot") - col("mx") >= 100).count() === 0)
    // batch ids 0-based and contiguous per (bucket, shard)
    val per = out.groupBy("bucket", "shard").agg(min("batch").as("lo"),
      max("batch").as("hi"), countDistinct("batch").as("nb"))
    assert(per.filter(col("lo") =!= 0 || col("nb") =!= col("hi") + 1)
      .count() === 0)
    // sharded: still a partition of the corpus (every doc once), same
    // bucket arithmetic, every (bucket, shard, batch) quota-valid —
    // batching is a partitioning choice, so shards only split streams
    val sh = TextOps.lengthBucketBatches("doc_id", "text",
      bucketTokens = 8, batchTokens = 100, shards = 4)(df)
    assert(sh.count() === 300 &&
      sh.select("doc_id").distinct().count() === 300)
    assert(sh.select("shard").distinct().count() > 1)
    val shSums = sh.groupBy("bucket", "shard", "batch")
      .agg(sum("n_tokens").as("tot"), max("n_tokens").as("mx"))
    assert(shSums.filter(col("tot") - col("mx") >= 100).count() === 0)
    intercept[IllegalArgumentException](
      TextOps.lengthBucketBatches("doc_id", "text", 0, 100)(df))
  }

  test("epochRepeatMix: integer epochs exact, fractional in expectation, default ×1") {
    val df = ((1 to 1000).map(i => (i.toLong, "wiki")) ++
      (2001 to 3000).map(i => (i.toLong, "cc")) ++
      (4001 to 4010).map(i => (i.toLong, "books")))
      .toDF("doc_id", "source")
    val out = TextOps.epochRepeatMix("doc_id", "source",
      Map("wiki" -> 2.5, "cc" -> 0.25, "books" -> 3.0))(df)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // integer factor: EXACTLY n·f copies, every doc replicated alike
    assert(bySrc("books") === 30L)
    // fractional factors: expectation n·f with a Bernoulli tail —
    // 1000 draws at p=.5 / p=.25, generous 5σ bands
    assert(bySrc("wiki") > 2420L && bySrc("wiki") < 2580L, bySrc)
    assert(bySrc("cc") > 180L && bySrc("cc") < 320L, bySrc)
    // every wiki doc appears at least twice (floor), copies 0-indexed
    val wikiMin = out.filter(col("source") === "wiki")
      .groupBy("doc_id").count().agg(min("count")).head.getLong(0)
    assert(wikiMin === 2L)
    assert(out.agg(min("copy")).head.getLong(0) === 0L)
    // unnamed sources pass through exactly once
    val extra = df.unionByName(Seq((9001L, "other")).toDF("doc_id", "source"))
    val others = TextOps.epochRepeatMix("doc_id", "source",
      Map("wiki" -> 2.0))(extra)
      .filter(col("source") === "other").count()
    assert(others === 1L)
    // deterministic: identical multiset across reruns
    val a = TextOps.epochRepeatMix("doc_id", "source",
      Map("wiki" -> 1.5))(df).groupBy("doc_id").count()
      .orderBy("doc_id").collect().toSeq
    val b = TextOps.epochRepeatMix("doc_id", "source",
      Map("wiki" -> 1.5))(df).groupBy("doc_id").count()
      .orderBy("doc_id").collect().toSeq
    assert(a === b)
    intercept[IllegalArgumentException](
      TextOps.epochRepeatMix("doc_id", "source", Map("wiki" -> 0.0))(df))
  }

  test("lateInteraction: MaxSim semantics, empty guards, self-match bound") {
    def score(q: Seq[Array[Float]], d: Seq[Array[Float]]): Double =
      Seq((q, d)).toDF("q", "d")
        .select(Similarity.lateInteractionScore($"q", $"d"))
        .head.getDouble(0)
    val ex = Array(1f, 0f); val ey = Array(0f, 1f)
    val mid = Array(1f, 1f) // cos(ex, mid) = cos(ey, mid) = 1/√2
    // each query token finds ITS best doc token independently
    assert(score(Seq(ex, ey), Seq(ey, ex)) === 2.0)
    assert(math.abs(score(Seq(ex, ey), Seq(mid)) - 2.0 / math.sqrt(2)) < 1e-12)
    // identical token sets score exactly |q| (every token matches itself)
    assert(score(Seq(ex, ey, mid), Seq(mid, ex, ey)) === 3.0)
    // a doc can reuse one token for several query tokens (max, not
    // assignment): both query tokens pick the same best doc token
    assert(score(Seq(ex, ex), Seq(ex, ey)) === 2.0)
    // empty sides score 0.0, never null/error
    assert(score(Seq.empty, Seq(ex)) === 0.0)
    assert(score(Seq(ex), Seq.empty) === 0.0)
    // topK: self excluded, rank by (maxsim desc, id)
    val docs = Seq(
      (1L, Seq(ex, ey)), (2L, Seq(ey, ex)), (3L, Seq(mid, mid)))
      .toDF("id", "tv")
    val top = Similarity.lateInteractionTopK(
      docs, "id", "tv", docs.filter($"id" === 1L), "id", "tv", k = 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq === Seq(2L, 3L))
    assert(top(0).getDouble(2) === 2.0)
  }

  test("hardNegatives: band excludes near-dup positives, rank is hardest-first") {
    // corpus around query q=(1,0): a near-dup (cos ~.999), a hard
    // negative (cos ~.6), a medium one (cos ~.3), an anticorrelated one
    val rows = Seq(
      (1L, Array(1f, 0f)),          // the query itself (excludeSelf)
      (2L, Array(1f, 0.05f)),       // near-dup: cos > .9 — MUST be excluded
      (3L, Array(0.8f, 0.6f)),      // cos = .8 — above band, excluded
      (4L, Array(0.6f, 0.8f)),      // cos = .6 — in band, hardest
      (5L, Array(0.3f, 0.954f)),    // cos ~ .3 — in band, second
      (6L, Array(-1f, 0f)))         // cos = -1 — in band, last
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(
      rows, "vec_id", "embedding",
      rows.filter($"vec_id" === 1L), "vec_id", "embedding",
      k = 2, maxSim = 0.7)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(4L, 5L))
    assert(out.forall(_.getDouble(2) <= 0.7))
    // the band filter applies BEFORE the top-k: k=4 still never admits
    // the near-dup or the above-band candidate
    val wide = Similarity.hardNegatives(
      rows, "vec_id", "embedding",
      rows.filter($"vec_id" === 1L), "vec_id", "embedding",
      k = 4, maxSim = 0.7).collect()
    assert(wide.map(_.getLong(1)).toSet === Set(4L, 5L, 6L))
    intercept[IllegalArgumentException](Similarity.hardNegatives(
      rows, "vec_id", "embedding", rows, "vec_id", "embedding",
      k = 0, maxSim = 0.5))
  }

  test("rankingMetrics: recall/RR semantics incl. zero-hit and absent queries") {
    def frame(rows: (Long, Long, Int)*) =
      rows.toDF("query_id", "item_id", "rank")
    val truth = frame((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2),
      (3L, 30L, 1))
    // q1: hits 11 (rank 2) and 12 (rank 3); q2: zero hits; q3 absent
    // from the result entirely — must still report recall 0
    val result = frame((1L, 99L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 98L, 1), (2L, 97L, 2))
    val out = Similarity.rankingMetrics(result, truth, k = 3)
      .orderBy("query_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val q1 = out(0)
    assert(q1.getLong(1) === 3L && q1.getLong(2) === 2L) // n_relevant, hits
    assert(q1.getDouble(3) === 2.0 / 3.0)
    assert(q1.getInt(4) === 2 && q1.getDouble(5) === 0.5)
    assert(out(1).getLong(2) === 0L && out(1).getDouble(3) === 0.0 &&
      out(1).isNullAt(4) && out(1).getDouble(5) === 0.0)
    assert(out(2).getLong(2) === 0L && out(2).getDouble(5) === 0.0)
    // rank > k rows in either frame are outside the contract
    val deep = Similarity.rankingMetrics(
      frame((1L, 10L, 4)), frame((1L, 10L, 1)), k = 3)
      .orderBy("query_id").collect()
    assert(deep(0).getLong(2) === 0L) // rank-4 hit doesn't count at k=3
    // a perfect rung scores recall 1, RR 1 on every query
    val perfect = Similarity.rankingMetrics(truth, truth, k = 3).collect()
    assert(perfect.forall(r =>
      r.getDouble(3) === 1.0 && r.getDouble(5) === 1.0))
  }

  test("htmlExtract rule chain: blocks, tags, entity order, malformed degradation") {
    def ext(h: String): String =
      Seq(Tuple1(h)).toDF("h").select(TextOps.htmlExtract($"h")).head.getString(0)
    // script/style drop WITH contents; adjacent blocks don't merge
    // (lazy quantifier): the text between two scripts survives
    assert(ext("<script>var a;</script>mid<script>var b;</script>") === "mid")
    assert(ext("<style>p{}</style>keep<STYLE>q{}</STYLE>") === "keep")
    // comments drop; tags become word-boundary spaces
    assert(ext("a<!-- x -->b") === "a b")
    assert(ext("a<br>b<p class=\"x\">c</p>") === "a b c")
    // entity order: &amp; decodes LAST, so double-encoding stays encoded
    assert(ext("&amp;lt; &lt; &amp; &nbsp;&#39;q&#39;") === "&lt; < & 'q'")
    // malformed HTML degrades gracefully: an unclosed <script> leaks
    // its TEXT but every tag inside still strips
    assert(ext("<script>if (a) { b(); }<p>tail</p>") ===
      "if (a) { b(); } tail")
    // whitespace collapse + trim; NULL in, NULL out
    assert(ext("  a \t\n b  ") === "a b")
    assert(Seq(Tuple1(null: String)).toDF("h")
      .select(TextOps.htmlExtract($"h")).head.isNullAt(0))
    // links: document order, double-quoted only (documented), NULL -> empty
    val links = Seq(Tuple1(
      "<a href=\"/a\">1</a><a HREF=\"/b\">2</a><a href='/skipped'>3</a>"))
      .toDF("h").select(TextOps.htmlLinks($"h")).head.getSeq[String](0)
    assert(links === Seq("/a", "/b"))
    assert(Seq(Tuple1(null: String)).toDF("h")
      .select(TextOps.htmlLinks($"h")).head.getSeq[String](0).isEmpty)
  }

  test("exactOrder=false production folds agree with the exact modes within 1e-12") {
    import graft.ext.GraphOps
    def relDiff(a: Double, b: Double): Double =
      math.abs(a - b) / math.max(math.max(math.abs(a), math.abs(b)), 1e-30)
    // pageRank over the fixture-derived 40-node link graph (the
    // page_rank query's own edge derivation): the order-free sum() must
    // match the order-pinned fold to float rounding — same math,
    // engine-chosen addition order
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select((col("user_id") % 40).as("src"),
        ((col("user_id") * 7 + col("event_id")) % 40).as("dst"))
    val prExact = GraphOps.pageRank("src", "dst")(ev)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prFast = GraphOps.pageRank("src", "dst", exactOrder = false)(ev)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prExact.keySet === prFast.keySet)
    prExact.foreach { case (n, r) =>
      assert(relDiff(r, prFast(n)) <= 1e-12,
        s"node $n: exact=$r fast=${prFast(n)}")
    }
    // bigramLmQuality over the fixture corpus: plain sum() per doc vs
    // the position-ordered fold
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lmExact = TextOps.bigramLmQuality("doc_id", "text")(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val lmFast = TextOps.bigramLmQuality("doc_id", "text",
      exactOrder = false)(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(lmExact.keySet === lmFast.keySet)
    lmExact.foreach { case (id, (n, s)) =>
      assert(lmFast(id)._1 === n)
      assert(relDiff(s, lmFast(id)._2) <= 1e-12,
        s"doc $id: exact=$s fast=${lmFast(id)._2}")
    }
  }

  test("kCore: triangle+pendant peel, cascade honesty flag, edge hygiene, empty core") {
    import graft.ext.GraphOps
    // triangle {1,2,3} + pendant 4: 2-core is the triangle, found in
    // one round; pendant degree 1 < 2 peels
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val r = GraphOps.kCore("src", "dst", k = 2, rounds = 2)(tri)
      .orderBy("node").collect()
    assert(r.map(_.getAs[Long]("node")).toSeq === Seq(1L, 2L, 3L))
    assert(r.forall(_.getAs[Long]("degree") === 2L))
    assert(r.forall(_.getAs[Boolean]("converged")))
    // path 1-2-3-4-5 under k=2 peels one layer per round: after ONE
    // round survivors {2,3,4} are NOT a 2-core and the flag says so
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r1 = GraphOps.kCore("src", "dst", k = 2, rounds = 1)(path)
      .orderBy("node").collect()
    assert(r1.map(_.getAs[Long]("node")).toSeq === Seq(2L, 3L, 4L))
    assert(r1.forall(!_.getAs[Boolean]("converged")))
    // enough rounds: the path has NO 2-core — empty output
    assert(GraphOps.kCore("src", "dst", k = 2, rounds = 4)(path)
      .count() === 0L)
    // hygiene: reciprocal pair + self-loop collapse to ONE edge
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L)).toDF("src", "dst")
    val rm = GraphOps.kCore("src", "dst", k = 1, rounds = 2)(messy)
      .orderBy("node").collect()
    assert(rm.map(r => (r.getAs[Long]("node"), r.getAs[Long]("degree")))
      .toSeq === Seq((1L, 1L), (2L, 1L)))
    intercept[IllegalArgumentException](
      GraphOps.kCore("src", "dst", k = 0)(tri))
    intercept[IllegalArgumentException](
      GraphOps.kCore("src", "dst", k = 2, rounds = 0)(tri))
  }

  test("kTruss: K4 survives, weak triangle peels, cascade honesty flag, hygiene") {
    import graft.ext.GraphOps
    // K4 {1,2,3,4} + a pendant triangle {4,5,6}: every K4 edge closes
    // 2 triangles, the pendant's close 1 -> the 4-truss is exactly K4
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val r = GraphOps.kTruss("src", "dst", k = 4, rounds = 3)(g)
      .orderBy("node_a", "node_b").collect()
    assert(r.map(x => (x.getAs[Long]("node_a"), x.getAs[Long]("node_b")))
      .toSeq === Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L)))
    assert(r.forall(_.getAs[Long]("support") === 2L))
    assert(r.forall(_.getAs[Boolean]("converged")))
    // k=3 keeps every triangle edge and drops the triangle-free one
    val g3 = g.union(Seq((6L, 7L)).toDF("src", "dst"))
    val r3 = GraphOps.kTruss("src", "dst", k = 3, rounds = 3)(g3)
      .collect()
    assert(r3.length === 9 && r3.forall(_.getAs[Long]("support") >= 1L))
    // diamond (square + one diagonal) under k=4 peels in CASCADE:
    // round 1 leaves the diagonal alone (its support was 2), which
    // is NOT a 4-truss -> flag false; round 2 empties it -> true
    val dia = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val r1 = GraphOps.kTruss("src", "dst", k = 4, rounds = 1)(dia)
      .collect()
    assert(r1.map(x => (x.getAs[Long]("node_a"),
      x.getAs[Long]("node_b"))).toSeq === Seq((1L, 3L)))
    assert(r1.forall(!_.getAs[Boolean]("converged")))
    assert(GraphOps.kTruss("src", "dst", k = 4, rounds = 2)(dia)
      .count() === 0L)
    // hygiene: reciprocal pair + self-loop collapse; k guard
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val rm = GraphOps.kTruss("src", "dst", k = 3, rounds = 2)(messy)
      .orderBy("node_a", "node_b").collect()
    assert(rm.length === 3 && rm.forall(_.getAs[Long]("support") === 1L))
    intercept[IllegalArgumentException](
      GraphOps.kTruss("src", "dst", k = 2)(g))
  }

  test("ccnetBuckets: tertile partition, shares sum to 1, lone doc is tail") {
    // 9 docs with 9 DISTINCT self-trained LM scores (repetition rungs:
    // doc i repeats its own bigram i times, so the trigram leg's mean
    // rises with i) -> percent_rank = k/8 and the tertile cuts give
    // exactly 3/3/3; plus a single-doc source (pct = 0 -> tail, share 1)
    val docs = ((1 to 9).map { i =>
      ("big", i.toLong, (s"w$i v$i " * (i + 1)).trim)
    } :+ (("lone", 99L, "solo text here"))).toDF("source", "doc_id", "text")
    val out = TextOps.ccnetBuckets("doc_id", "source", "text",
      TextOps.lmCountTable("text")(docs))(docs).collect()
    val big = out.filter(_.getString(0) == "big")
    assert(big.map(_.getAs[Long]("n_docs")).sum === 9L)
    assert(big.map(r => r.getString(1) -> r.getAs[Long]("n_docs")).toMap
      === Map("head" -> 3L, "middle" -> 3L, "tail" -> 3L))
    assert(math.abs(big.map(_.getAs[Double]("token_share")).sum - 1.0)
      < 1e-12)
    val lone = out.filter(_.getString(0) == "lone")
    assert(lone.length === 1 && lone.head.getString(1) === "tail" &&
      lone.head.getAs[Double]("token_share") === 1.0)
  }

  test("corpusDivergence: identical zero, disjoint max, rest-bucket fold, hand values") {
    def docs(rows: (String, String)*) =
      rows.toSeq.toDF("source", "text")
    // identical corpora: all three divergences exactly 0
    val same = TextOps.corpusDivergence("source", "text")(
      docs(("s0", "a b c"), ("s1", "a b c"))).head()
    assert(same.getAs[Double]("tvd") === 0.0 &&
      same.getAs[Double]("hellinger") === 0.0 &&
      same.getAs[Double]("chi_sq") === 0.0)
    // disjoint vocabularies: tvd = 1, hellinger = 1, chi = 2
    val disj = TextOps.corpusDivergence("source", "text")(
      docs(("s0", "a a"), ("s1", "b b"))).head()
    assert(disj.getAs[Double]("tvd") === 1.0 &&
      disj.getAs[Double]("hellinger") === 1.0 &&
      disj.getAs[Double]("chi_sq") === 2.0)
    // hand case over full vocab: p=(.5,.5,0) vs q=(.5,0,.5)
    val h = TextOps.corpusDivergence("source", "text", topV = 3)(
      docs(("s0", "a b"), ("s1", "a c"))).head()
    assert(h.getAs[Double]("tvd") === 0.5)
    assert(math.abs(h.getAs[Double]("hellinger") - math.sqrt(0.5)) < 1e-15)
    assert(math.abs(h.getAs[Double]("chi_sq") - 1.0) < 1e-15)
    assert(h.getAs[Long]("n_a") === 2L && h.getAs[Long]("n_b") === 2L)
    // topV=1 folds b and c into <rest>: the difference becomes
    // invisible BY DESIGN (rest mass equal) -> all zeros
    val folded = TextOps.corpusDivergence("source", "text", topV = 1)(
      docs(("s0", "a b"), ("s1", "a c"))).head()
    assert(folded.getAs[Double]("tvd") === 0.0 &&
      folded.getAs[Long]("terms") === 2L)
    // pair orientation is source_a < source_b, one row per pair
    val three = TextOps.corpusDivergence("source", "text")(
      docs(("s0", "a"), ("s1", "b"), ("s2", "c")))
      .orderBy("source_a", "source_b").collect()
    assert(three.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("s0", "s1"), ("s0", "s2"), ("s1", "s2")))
    intercept[IllegalArgumentException](
      TextOps.corpusDivergence("source", "text", topV = 0)(
        docs(("s0", "a"))))
  }

  test("fleschReadability: hand counts, sentence floor, vowel-group floor, empty text") {
    import spark.implicits._
    def run(text: String) = TextOps.fleschReadability("id", "text")(
      Seq((1L, Option(text))).toDF("id", "text")).head()
    // "The cat sat." -> w=3, s=1, syl=3; flesch = 206.835-3.045-84.6
    val r = run("The cat sat.")
    assert(r.getAs[Long]("n_words") === 3L &&
      r.getAs[Long]("n_sentences") === 1L &&
      r.getAs[Long]("n_syllables") === 3L)
    assert(math.abs(r.getAs[Double]("flesch") -
      (206.835 - 1.015 * 3.0 - 84.6 * 1.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("fk_grade") -
      (0.39 * 3.0 + 11.8 * 1.0 - 15.59)) < 1e-12)
    // terminator RUNS count once; contiguous vowels are ONE group
    val m = run("Hi there! How are you? Good.")
    assert(m.getAs[Long]("n_words") === 6L &&
      m.getAs[Long]("n_sentences") === 3L &&
      m.getAs[Long]("n_syllables") === 8L)
    // "Wait...!" is one terminator run; "br" floors at 1 syllable
    val f = run("br Wait...!")
    assert(f.getAs[Long]("n_sentences") === 1L &&
      f.getAs[Long]("n_syllables") === 2L) // br floors at 1; wait: "ai" is ONE group
    // empty and NULL text: the [''] token -> w=1, s=1 (floor), syl=1
    for (t <- Seq("", null)) {
      val e = run(t)
      assert(e.getAs[Long]("n_words") === 1L &&
        e.getAs[Long]("n_sentences") === 1L &&
        e.getAs[Long]("n_syllables") === 1L)
    }
  }
}
