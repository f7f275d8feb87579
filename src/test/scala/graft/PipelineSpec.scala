package graft

import graft.operators.PipelineQueries
import org.apache.spark.sql.functions._

/** G-class pipeline operators: LSH vs exact ground truth, ANN vs local
  * recomputation, planted near-dups. */
class PipelineSpec extends SparkSpec {

  private def q(name: String) =
    SparkEntry.queries(name)(spark, sf)

  test("minhash-LSH finds exactly the exact-jaccard pairs on this corpus") {
    val exact = q("x02_ngram_jaccard").select("doc_a", "doc_b")
    val lsh = q("x02_minhash_lsh").select("doc_a", "doc_b")
    assert(exact.exceptAll(lsh).count() === 0, "LSH missed planted pairs")
    assert(lsh.exceptAll(exact).count() === 0, "LSH produced false positives")
    assert(exact.count() > 0, "corpus must contain planted near-dups")
  }

  test("x03d IVF-PQ composition: recall@10 matches or beats the full-scan " +
      "x79 pipeline while touching only the routed cells") {
    val x79 = q("x79_pq_adc_ann")
      .agg(sum(col("n_hits_rerank"))).collect()(0).getLong(0)
    val rows = q("x03d_ivf_pq_ann").collect()
    assert(rows.length === 8, "the same eight seeded queries as x79")
    val x03d = rows.map(_.getAs[Long]("n_hits_rerank")).sum
    val total = Tables.table(spark, sf, "embeddings").count()
    rows.foreach { r =>
      val nc = r.getAs[Long]("n_cand")
      assert(nc > 0 && nc < total,
        s"routing must prune: $nc candidates of $total corpus vectors")
    }
    // VERDICT r15 #7's bar: the composition's recall is >= the full-ADC
    // x79 pipeline's (routing prunes PQ impostors from the shortlist)
    assert(x03d >= x79,
      s"IVF-PQ recall $x03d fell below the full-scan PQ recall $x79")
  }

  test("x79 PQ: rerank dominates raw ADC recall, codes are well-formed") {
    val rows = q("x79_pq_adc_ann").collect()
    assert(rows.length === 8, "eight seeded queries")
    rows.foreach { r =>
      val (nh, nhr) = (r.getAs[Long]("n_hits"), r.getAs[Long]("n_hits_rerank"))
      assert(nh >= 0 && nh <= 10 && nhr <= 10, s"recall out of range: $r")
      // structural theorem: any member of (ADC top-10 ∩ exact top-10) is in
      // the ADC top-50 shortlist with fewer than 10 exact-better candidates
      // present, so it survives the rerank — rerank can never lose recall
      assert(nhr >= nh, s"rerank lost recall: $r")
      val codes = r.getAs[String]("q_codes").split("-")
      assert(codes.length === 8 &&
        codes.forall(c => c.toInt >= 1 && c.toInt <= 16),
        s"malformed PQ codes: $r")
    }
    assert(rows.map(_.getAs[Long]("n_hits_rerank")).sum >
      rows.map(_.getAs[Long]("n_hits")).sum,
      "on this corpus the exact rerank must strictly improve total recall")
  }

  test("planted near-dups are detected on synthetic docs") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 58).map(i => s"w$i") ++ Seq("zz", "yy")).mkString(" ")
    val far = (100 to 160).map(i => s"v$i").mkString(" ")
    Seq((0L, base), (1L, near), (2L, far)).toDF("doc_id", "text")
      .createOrReplaceTempView("synthetic_docs")
    // reuse the LSH pipeline shape against the synthetic corpus
    val docs = spark.table("synthetic_docs")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(1), size(col("w")) - 4),
          i => array_join(slice(col("w"), i, lit(5)), " "))).as("sh"))
      .withColumn("nsh", size(col("sh")).cast("long"))
    val ex = docs.select(col("doc_id"), col("nsh"), explode(col("sh")).as("sg"))
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("j", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("j") >= 0.5)
      .select("da", "db").collect()
    assert(pairs.length === 1 && pairs(0).getLong(0) === 0L && pairs(0).getLong(1) === 1L)
  }

  test("simhash planted recall >= 0.88, zero decoys, lossless <=3-Hamming banding") {
    // the planted-recall assertion minhash already has (VERDICT r8 #7):
    // 25 base docs with disjoint vocabularies, each paired with a variant
    // that swaps the last 1 of 120 words — ~96% shingle overlap puts the
    // pair's simhash Hamming inside the 4×16-bit banding pigeonhole —
    // plus 25 disjoint-vocabulary decoys that must produce no pair.
    import spark.implicits._
    def words(tag: String): IndexedSeq[String] =
      (1 to 120).map(j => s"${tag}_w$j")
    val base = (0 until 25).map(i => (i.toLong, words(s"p$i").mkString(" ")))
    val near = (0 until 25).map(i => ((i + 1000).toLong,
      (words(s"p$i").dropRight(1) :+ s"p${i}_zz").mkString(" ")))
    val decoys = (0 until 25).map(i => ((i + 2000).toLong, words(s"d$i").mkString(" ")))
    val docs = (base ++ near ++ decoys).toDF("doc_id", "text")
    val pairs = GraftOps.simhashNearDups(docs, col("doc_id"), col("text"),
        k = 5, maxHamming = 12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 25).map(i => (i.toLong, (i + 1000).toLong)).toSet
    // recall target: a 1-word edit usually lands at Hamming 1-3 but can
    // constructively hash to 4-6, outside the 4×16-band pigeonhole — the
    // operator's contract is lossless only to Hamming 3 (next assertion),
    // so the planted-recall floor is high-but-not-1.0
    val recall = (planted & pairs).size.toDouble / planted.size
    assert(recall >= 0.88, s"planted simhash recall $recall < 0.88 " +
      s"(missed ${planted -- pairs})")
    assert((pairs -- planted).isEmpty,
      s"simhash paired unrelated docs: ${pairs -- planted}")

    // the deterministic half of the contract: banding finds EVERY pair at
    // Hamming ≤ 3 (pigeonhole over 4 16-bit bands) — compare against the
    // brute-force all-pairs ground truth on the same 75-doc corpus
    val sh = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.simhash64(
        graft.functions.GraftFunctions.word_shingles(col("text"), 5))
        .as("sh64"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id"))
      .as[(Long, Long)].collect().toSet
    assert((brute -- pairs).isEmpty,
      s"banding lost Hamming≤3 pairs the pigeonhole guarantees: ${brute -- pairs}")
  }

  test("IVF ANN (nprobe=1) achieves full recall vs brute force on seeded clusters") {
    // seeded well-separated corpus: 4 clusters on orthogonal axes with small
    // deterministic perturbations — the regime nprobe=1 is DESIGNED for.
    // Every query's true top-3 lives in its own cluster, so IVF must equal
    // the brute-force ranking exactly (recall 1.0), not just overlap it.
    import spark.implicits._
    val dim = 8
    val corpus = (0 until 100).map { i =>
      val c = i % 4
      val v = Array.tabulate(dim)(d =>
        (if (d == c) 1.0f else 0.0f) + 0.01f * ((i * 7 + d) % 10))
      (i.toLong, v, s"c$c")
    }.toDF("vec_id", "embedding", "label")
    val queries = corpus.filter(col("vec_id") < 8)
    val ivf = GraftOps.annTopKIvf(corpus, col("vec_id"), col("embedding"),
        col("label"), queries, col("vec_id"), col("embedding"), k = 3, dim = dim)
      .select("q_id", "rank", "n_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val vecs = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    (0L until 8L).foreach { q =>
      val want = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
      assert(ivf(q) === want, s"IVF ranking for query $q diverged from brute force")
    }
  }

  test("brute-force ANN matches a local recomputation") {
    val top = q("x03_ann_bruteforce").filter(col("q_id") === 3)
      .orderBy("rank").select("n_id").collect().map(_.getLong(0))
    // local ground truth with identical float->double accumulation
    val vecs = Tables.table(spark, sf, "embeddings")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb); if (d == 0) 0 else dot / d
    }
    val want = vecs.toSeq.filter(_._1 != 3L)
      .map { case (id, v) => (id, cos(vecs(3L), v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(top.toSeq === want)
  }

  test("lsh ANN neighbors are a subset of same-bucket vectors with true scores") {
    val lsh = q("x03_ann_lsh")
    assert(lsh.count() > 0)
    assert(lsh.groupBy("q_id").count().agg(max("count")).collect()(0).getLong(0) <= 3)
  }

  test("multi-probe LSH ANN recall dominates single-bucket recall") {
    val e = Tables.table(spark, sf, "embeddings")
    val queries = e.filter(col("vec_id") < 50)
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = topk(graft.GraftOps.annTopK(e, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), 3)
      .select(col("q_id"), col("rank"), col("n_id")))
    def recall(probes: Int): Double = {
      val got = topk(graft.GraftOps.annTopKLsh(e, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), 3,
        planes = 4, seed = 42L, probes = probes)
        .select(col("q_id"), col("rank"), col("n_id")))
      got.intersect(truth).size.toDouble / truth.size
    }
    val r0 = recall(0); val r3 = recall(3)
    assert(r3 >= r0, s"multi-probe lowered recall: $r3 < $r0")
    assert(r3 > 0.4, s"multi-probe recall unexpectedly low: $r3")
  }

  test("LSH cosine near-dups equal the all-pairs brute force on this corpus") {
    import spark.implicits._
    val e = Tables.table(spark, sf, "embeddings")
    val lsh = q("x03_embedding_neardup").select("a_id", "b_id")
    // brute-force ground truth built inline (the formulation the operator
    // replaced — kept here as the oracle-scale cross-check only)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    val brute = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.GraftFunctions.cosine_sim(col("a_vec"), col("b_vec")).as("score"))
      .filter(col("score") >= 0.45).select("a_id", "b_id")
    assert(brute.exceptAll(lsh).count() === 0, "LSH candidates missed a true pair")
    assert(lsh.exceptAll(brute).count() === 0, "verify step let a false positive through")
    assert(brute.count() > 0, "corpus must contain pairs above the threshold")
  }

  test("df-capped jaccard still finds planted near-dups under heavy boilerplate") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // every doc carries the same boilerplate suffix — its shingles have
    // df = ndocs, the exact skew the cap exists to prune
    val boiler = "copyright footer legal notice terms apply all rights reserved worldwide"
    val params = Gen.Parameters.default
    val wordGen = Gen.chooseNum(0, 199).map(i => s"w$i")
    for (seedNo <- 1L to 3L) {
      // 80 docs puts boilerplate df (81) above the Auto cap
      // max(64, ceil(8·sqrt(81))) = 72 — the default path must prune it
      val ndocs = 80
      val docs = (0 until ndocs).map { i =>
        val len = 30 + (i % 20)
        val words = Gen.listOfN(len, wordGen)
          .apply(params, Seed(seedNo * 1000 + i)).get
        (i.toLong, (words :+ boiler).mkString(" "))
      }
      // planted near-dup: doc 0 with two words swapped, appended as a new doc
      val base = docs.head._2.split(" ")
      val mutated = (base.take(2) ++ Array("zz", "yy") ++ base.drop(4)).mkString(" ")
      val corpus = (docs :+ (ndocs.toLong, mutated)).toDF("doc_id", "text")

      // cap at 10× the measured mean shingle df; boilerplate df = ndocs+1
      // must exceed it or the test isn't exercising pruning
      val sh = graft.GraftOps.shingles(corpus, col("doc_id"), col("text"))
        .select(explode(col("sh")).as("sg"))
      val meanDf = sh.groupBy("sg").count().agg(avg("count")).collect()(0).getDouble(0)
      val cap = math.round(meanDf * 10)
      assert(cap < ndocs + 1, s"cap $cap does not prune boilerplate (df=${ndocs + 1})")

      // each policy through both paths: the driver solve that
      // jaccardNearDups takes on this small corpus, and the distributed
      // plan behind the indexJoinNearDups seam — equal rows, equal schemas
      def pairs(policy: graft.GraftOps.DfCapPolicy): Map[(Long, Long), Double] = {
        val local = graft.GraftOps.jaccardNearDups(corpus, col("doc_id"),
          col("text"), maxDf = policy)
        val plan = graft.GraftOps.indexJoinNearDups(corpus, col("doc_id"),
          col("text"), maxDf = policy)
        assert(local.schema === plan.schema, s"seed $seedNo $policy: schemas differ")
        val rows = local.collect().toSeq
        assert(rows.sortBy(_.toString) === plan.collect().toSeq.sortBy(_.toString),
          s"seed $seedNo $policy: driver solve and plan differ")
        rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      }
      val exact = pairs(graft.GraftOps.DfCapPolicy.Exact)
      val capped = pairs(graft.GraftOps.DfCapPolicy.Fixed(cap))
      assert(capped.contains((0L, ndocs.toLong)),
        s"seed $seedNo: planted pair lost under df cap $cap")
      capped.foreach { case (pair, j) =>
        assert(exact.get(pair).contains(j),
          s"seed $seedNo: capped j for $pair differs from exact (${exact.get(pair)} vs $j)")
      }
      // on this corpus no qualifying pair's overlap is pure boilerplate, so
      // the capped index loses no pairs at all
      assert(capped.keySet === exact.keySet, s"seed $seedNo: pair sets differ")

      // the DEFAULT (Auto) path: its derived cap max(64, ceil(8·sqrt(81)))=72
      // sits below the boilerplate df of 81, so the shared-chrome shingles
      // are pruned from the candidate index — the d² fanout cannot happen —
      // while the planted pair and every exact similarity survive untouched
      val autoCap = math.max(64L, math.ceil(8.0 * math.sqrt(ndocs + 1)).toLong)
      assert(autoCap < ndocs + 1,
        s"test corpus must put boilerplate df above the auto cap ($autoCap)")
      val auto = pairs(graft.GraftOps.DfCapPolicy.Auto)
      assert(auto === exact, s"seed $seedNo: default Auto path differs from exact")
    }
  }

  test("dedupClusters matches a local union-find on generated graphs") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Gen.Parameters.default
    val n = 40
    val generated = (1L to 4L).map { seedNo =>
      val edgeGen = Gen.listOfN(60,
        Gen.zip(Gen.chooseNum(0, n - 1), Gen.chooseNum(0, n - 1)))
      s"seed $seedNo" -> edgeGen(params, Seed(seedNo)).get
        .collect { case (a, b) if a != b => (math.min(a, b).toLong, math.max(a, b).toLong) }
        .distinct
    }
    // 0-1-...-256: diameter 256, past the loop's default 50 rounds, so only
    // the driver-side solve can label it at the default maxIter (the loop's
    // round bound on this graph is pinned in StarContractionSpec; running it
    // to convergence here would take 257 rounds)
    val path = "path" -> (0L until 256L).map(i => (i, i + 1))
    for ((graph, raw) <- generated :+ path) {
      // ground truth: classic union-find
      val nodes = raw.flatMap(e => Seq(e._1, e._2)).distinct
      val parent = Array.tabulate(nodes.max.toInt + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = nodes.sorted
        .map(id => id -> {
          // component min = min over members with same root
          val root = find(id.toInt)
          nodes.filter(m => find(m.toInt) == root).min
        }).toMap
      val pairs = raw.toDF("doc_a", "doc_b")
      def labels(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = graft.GraftOps.dedupClusters(pairs, col("doc_a"), col("doc_b"))
      val got = labels(local)
      assert(got === want, s"$graph: driver-side solve differs")
      if (graph == path._1)
        assert(got.size === 257 && got.values.forall(_ == 0L), "path: every node labels 0")
      else {
        val loop = graft.GraftOps.minLabelClusters(pairs, col("doc_a"), col("doc_b"))
        assert(labels(loop) === want, s"$graph: min-label loop differs")
        assert(local.schema === loop.schema, s"$graph: schemas differ")
      }
    }
    // a null id sends dedupClusters to the loop, which labels it as before
    val withNull = Seq((1L, Option(2L)), (2L, Option(3L)), (4L, None)).toDF("doc_a", "doc_b")
    assert(graft.GraftOps.dedupClusters(withNull, col("doc_a"), col("doc_b")).collect().toSet ===
      graft.GraftOps.minLabelClusters(withNull, col("doc_a"), col("doc_b")).collect().toSet)
    // the id type and nullability carry through both paths
    val intPairs = generated.head._2.map { case (a, b) => (a.toInt, Option(b.toInt)) }
      .toDF("doc_a", "doc_b")
    val intLocal = graft.GraftOps.dedupClusters(intPairs, col("doc_a"), col("doc_b"))
    val intLoop = graft.GraftOps.minLabelClusters(intPairs, col("doc_a"), col("doc_b"))
    assert(intLocal.schema === intLoop.schema)
    assert(intLocal.schema.map(f => (f.dataType.typeName, f.nullable)) ===
      Seq(("integer", true), ("integer", true)))
    assert(intLocal.collect().toSet === intLoop.collect().toSet)
  }

  test("packSequences equals a local greedy fold and respects capacity") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Gen.Parameters.default
    for (seedNo <- 1L to 3L) {
      val cap = 100L
      val docs = Gen.listOfN(120, Gen.chooseNum(1L, 130L))
        .apply(params, Seed(seedNo)).get.zipWithIndex
        .map { case (n, i) => (i.toLong, n) }
      val got = graft.GraftOps.packSequences(
          docs.toDF("doc_id", "n_tok"), col("doc_id"), col("n_tok"),
          capacity = cap, shardSize = 40L)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      // local replay of the same greedy rule per shard
      val want = docs.groupBy(_._1 / 40).flatMap { case (shard, ds) =>
        var bin = 0L; var acc = 0L; var first = true
        ds.sortBy(_._1).map { case (id, n) =>
          if (first) { acc = n; first = false }
          else if (acc + n <= cap) acc += n
          else { bin += 1; acc = n }
          id -> ((shard, bin, n))
        }
      }
      assert(got === want, s"seed $seedNo: packing differs from local greedy")
      // capacity invariant: a bin exceeds cap only as a single oversized doc
      val over = got.values.groupBy(v => (v._1, v._2))
        .filter { case (_, ds) => ds.map(_._3).sum > cap }
      assert(over.values.forall(ds => ds.size == 1 && ds.head._3 > cap),
        s"seed $seedNo: multi-doc bin over capacity")
    }
  }

  test("hll sketch rollup: deterministic, merge-consistent, and near exact") {
    val a = q("x11_sketch_rollup").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = q("x11_sketch_rollup").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b, "sketch estimates must be deterministic run to run")
    // estimates track exact distincts within HLL error at lgK=12 (<2%)
    val rows = q("x11_sketch_rollup").filter(col("event_type") =!= "ALL")
      .collect()
    rows.foreach { r =>
      val (est, exact) = (r.getLong(1), r.getLong(2))
      assert(math.abs(est - exact).toDouble / exact < 0.02,
        s"${r.getString(0)}: $est vs $exact")
    }
    // merge consistency: the register-max merge is partition-insensitive, so
    // the estimate must be identical under any repartitioning
    val ev = Tables.events(spark, sf)
    def est(parts: Int): Long = ev.repartition(parts)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))))
      .collect()(0).getLong(0)
    assert(est(1) === est(7) && est(7) === est(32),
      "sketch estimate changed under repartitioning")
  }

  test("streaming sketch rollup equals the batch sketch exactly") {
    // HLL registers are a max over hashed values → order/batching invariant
    val streaming = q("s29_stream_sketch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streaming === batch, s"streaming $streaming != batch $batch")
  }

  test("exact dedup keeps one keeper per distinct text") {
    val docs = Tables.table(spark, sf, "documents")
    val d = q("x01_exact_dedup")
    assert(d.count() === docs.select("text").distinct().count())
    assert(d.agg(sum("n")).collect()(0).getLong(0) === docs.count())
  }

  test("decontaminate flags planted eval overlap and nothing else") {
    import spark.implicits._
    val evalDoc = "alpha beta gamma delta epsilon zeta"
    // leaked: contains the eval trigram "beta gamma delta"; clean: disjoint
    val leaked = "xx beta gamma delta yy zz ww"
    val clean = "one two three four five six seven"
    val corpus = Seq((10L, leaked), (11L, clean)).toDF("doc_id", "text")
    val ev = Seq((1L, evalDoc)).toDF("doc_id", "text")
    val out = GraftOps.decontaminate(corpus, ev, col("doc_id"), col("text"),
      k = 3, flagFrac = 0.1).orderBy("doc_id").collect()
    assert(out.length === 2)
    val byId = out.map(r => r.getLong(0) -> r).toMap
    // leaked trigrams {xx beta gamma, beta gamma delta, gamma delta yy, …}
    // ∩ eval trigrams {alpha beta gamma, beta gamma delta, …} = {beta gamma delta}
    assert(byId(10L).getLong(2) === 1L, s"unexpected hit count: ${byId(10L)}")
    assert(byId(11L).getLong(2) === 0L && !byId(11L).getBoolean(4),
      "clean doc must have zero hits and no flag")
    assert(byId(10L).getBoolean(4), "leaked doc must be flagged")
  }

  test("corpus split is deterministic and partition-invariant") {
    val docs = Tables.table(spark, sf, "documents")
    val a = q("x15_corpus_split").collect()
    val b = q("x15_corpus_split").collect() // re-run: identical assignment
    assert(a.toSeq === b.toSeq)
    assert(a.map(_.getLong(1)).sum === docs.count(), "splits must partition the corpus")
    val frac = a.map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(frac("train") / n > 0.7 && frac("train") / n < 0.9,
      s"train fraction off: ${frac("train") / n}")
  }

  test("sorted run-length bigram mode equals the naive distinct-filter count") {
    // x14 replaced the O(n²) mode computation with a sorted fold — pin the
    // equivalence on generated word sequences (incl. all-equal and all-
    // distinct edges)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 200).map { i =>
      val n = 2 + rnd.nextInt(30)
      val vocabSize = 1 + rnd.nextInt(4) // small vocab → heavy repetition
      (i.toLong, (0 until n).map(_ => s"w${rnd.nextInt(vocabSize)}").mkString(" "))
    } :+ (1000L, "a a a a a a") :+ (1001L, "b c d e f g")
    val df = rows.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("bg", expr(
        "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
      .withColumn("fold", expr(
        """aggregate(array_sort(bg),
             named_struct('prev', '', 'run', 0L, 'best', 0L),
             (s, x) -> named_struct(
               'prev', x,
               'run', if(x = s.prev, s.run + 1L, 1L),
               'best', greatest(s.best, if(x = s.prev, s.run + 1L, 1L))),
             s -> s.best)"""))
      .withColumn("naive", expr(
        "cast(array_max(transform(array_distinct(bg), x -> size(filter(bg, y -> y = x)))) as long)"))
    assert(df.filter(col("fold") =!= col("naive")).count() === 0,
      df.filter(col("fold") =!= col("naive")).limit(3).collect().mkString(","))
  }

  test("incremental dedup survivors are absent from history and self-distinct") {
    val out = q("x18_incremental_dedup")
    val docs = Tables.table(spark, sf, "documents")
    val histHashes = docs.filter(col("doc_id") % 10 =!= 7)
      .select(md5(col("text")).as("h"))
    assert(out.join(histHashes, Seq("h")).count() === 0,
      "a surviving hash exists in history")
    assert(out.select("h").distinct().count() === out.count(), "duplicate keeper hashes")
  }

  test("unigram surprisal ranks rare-word docs above common-word docs") {
    import spark.implicits._
    val common = (1 to 30).map(_ => "the").mkString(" ")
    val rare = (1 to 30).map(i => s"rare$i").mkString(" ")
    val corpus = Seq((0L, common), (1L, common), (2L, common), (3L, rare))
      .toDF("doc_id", "text")
    corpus.createOrReplaceTempView("surprisal_corpus")
    val words = corpus.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).cast("double").as("c"))
    val tot = vocab.agg(sum("c").as("tot"))
    val nll = words.join(broadcast(vocab.join(broadcast(tot))
        .select(col("w"), (-log(col("c") / col("tot"))).as("s"))), "w")
      .groupBy("doc_id").agg((sum("s") / count(lit(1))).as("surprisal"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nll(3L) > nll(0L), s"rare doc must score higher: $nll")
  }

  test("source mixture budgets sum to at most the total and weights to ~1") {
    val rows = q("x16_source_mixture").collect()
    val wSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(wSum - 1.0) < 1e-4, s"weights sum to $wSum")
    val bSum = rows.map(_.getLong(3)).sum
    assert(bSum <= 10000 && bSum > 10000 - rows.length,
      s"floored budgets must sum into (10000 - nSources, 10000]: $bSum")
  }

  test("x63 sorted-neighborhood: exact precision, high recall vs the full pair set") {
    val got = q("x63_sorted_neighborhood").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: the exact inverted-index generator at the same
    // k=5 / 0.5 threshold (x02's machinery)
    val exact = GraftOps.jaccardNearDups(Tables.table(spark, sf, "documents"),
        col("doc_id"), col("text"), k = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "no pairs surfaced — planting or sorting broken")
    // precision is EXACT by construction (candidates verify with the same
    // Jaccard); only recall is heuristic
    assert(got.subsetOf(exact),
      s"sorted-neighborhood produced a non-pair: ${got.diff(exact)}")
    assert(got.size >= math.ceil(0.8 * exact.size).toInt,
      s"two-pass recall ${got.size}/${exact.size} below the 80% floor")
  }

  test("x55 A-ES sample equals an independent local recomputation and skews long") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def u24(id: Long): Long = {
      val hex = md.digest(s"aes55:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 6), 16)
    }
    val expected = docs.map { case (id, nc) =>
      // ln(2 + n_chars): the x59/s51 convention — strictly positive even
      // for an empty doc (ADVICE r9; matches the query + oracle)
      val w = round6(math.log(2.0 + nc.toDouble))
      val prio = round6(math.log((u24(id) + 1.0) / 16777217.0) / w)
      (id, prio)
    }.sortBy { case (id, prio) => (-prio, id) }.take(150)
    val got = q("x55_weighted_sample")
      .select(col("doc_id"), col("priority")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === expected.toSeq,
      "Spark A-ES sample diverged from the local recomputation")
    // weighted-ness: ln(2+n_chars) weighting must pull the sample's mean
    // length above the corpus mean on this fixture
    val sampleIds = got.map(_._1).toSet
    val byId = docs.toMap
    val sMean = got.map(t => byId(t._1).toDouble).sum / got.length
    val cMean = docs.map(_._2.toDouble).sum / docs.length
    assert(sMean > cMean,
      f"sample mean n_chars $sMean%.1f not above corpus mean $cMean%.1f")
    assert(sampleIds.size === 150)
  }

  test("x56 split never separates a near-dup pair and covers every doc") {
    // rebuild the per-doc assignment exactly as x56 does, then audit the
    // structural claim: no jaccard>=0.5 pair straddles two splits, and the
    // three split sizes sum to the corpus
    val pairs = q("x02_ngram_jaccard").select(col("doc_a"), col("doc_b"))
    val clusters = graft.GraftOps.dedupClusters(pairs, col("doc_a"), col("doc_b"))
    val asg = Tables.table(spark, sf, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("bucket", expr(
        "CAST(conv(substr(md5(concat('split56:', cluster)), 1, 2), 16, 10) AS BIGINT)") % 10)
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .select(col("doc_id"), col("split"))
    val straddling = pairs
      .join(asg.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), Seq("doc_a"))
      .join(asg.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddling === 0L, s"$straddling near-dup pairs straddle splits")
    val summary = q("x56_leakage_free_split").collect()
    val nDocs = summary.map(_.getLong(2)).sum
    assert(nDocs === Tables.table(spark, sf, "documents").count(),
      "split doc counts must partition the corpus")
    assert(summary.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("x58 MinHash estimate brackets the exact source Jaccard and merges") {
    import graft.functions.GraftFunctions.word_shingles
    // exact pairwise source shingle-Jaccard (x19's inverted-index shape)
    val sg = Tables.table(spark, sf, "documents")
      .select(col("source"), explode(word_shingles(col("text"), 3)).as("g"))
      .distinct()
    val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val exact = sg.as("a").join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("inter"))
      .join(tot.select(col("source").as("sa"), col("n").as("na")), "sa")
      .join(tot.select(col("source").as("sb"), col("n").as("nb")), "sb")
      .select(col("sa"), col("sb"), (col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")).cast("double")).as("j"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
      .toMap
    val est = q("x58_minhash_source_sim").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    // lanes always join, so EVERY source pair must be present in the estimate
    val nSources = tot.count()
    assert(est.size.toLong === nSources * (nSources - 1) / 2,
      s"estimate must cover all source pairs, got ${est.size}")
    assert(exact.keySet.subsetOf(est.keySet))
    // 64 lanes: stderr sqrt(J(1-J)/64) <= 0.0625, 4 sigma = 0.25
    val worst = est.map { case (k, e) =>
      math.abs(e - exact.getOrElse(k, 0.0)) }.max
    assert(worst <= 0.25,
      f"MinHash estimate off by $worst%.3f — beyond the 4-sigma lane bound")
    // mergeability: the signature is partition-layout-invariant
    val docs = Tables.table(spark, sf, "documents")
    def sig(df: org.apache.spark.sql.DataFrame) =
      GraftOps.minhashLaneMins(df, col("source"), col("text"))
        .orderBy(col("grp"), col("lane")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(sig(docs) === sig(docs.repartition(7)),
      "MinHash signature changed under a different partition layout")
  }
}
