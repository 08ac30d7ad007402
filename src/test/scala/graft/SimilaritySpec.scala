package graft

import graft.operators.{KMeansOp, SimilarityOp}
import graft.tables.Tables

/** Vector kernels and ANN operators vs plain-Scala brute force on the
  * real embeddings fixture.
  */
class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val vecs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d*d; i += 1 }
    math.sqrt(s)
  }

  test("topK matches brute-force cosine ranking") {
    val got = SimilarityOp.topK(Tables.embeddings(spark, sfDir), 0L, 10)
      .as[(Long, Double)].collect().toSeq
    val q = vecs(0L)
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, math.rint(cos(q, v) * 1e6) / 1e6) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got.map(_._1) === expected.map(_._1))
    got.zip(expected).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) < 2e-6) }
  }

  test("kmeans assign picks the true nearest center") {
    val centerIds = Seq(7L, 42L, 123L)
    val got = KMeansOp.assign(Tables.embeddings(spark, sfDir), centerIds)
      .select($"vec_id", $"prediction", $"dist")
      .as[(Long, Long, Double)].collect()
    val centers = centerIds.map(id => id -> vecs(id))
    got.foreach { case (id, pred, dist) =>
      val best = centers.map { case (cid, cv) =>
        (cid, math.rint(l2(vecs(id), cv) * 1e6) / 1e6) }
        .minBy { case (cid, d) => (d, cid) }
      assert(pred === best._1, s"vec $id assigned $pred, brute force ${best._1}")
      assert(math.abs(dist - best._2) < 2e-6)
    }
  }

  test("SignSketchExpr bands are bit-equal to the composed-built-ins signSketch") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val v = VectorFunctions.toDoubleArray(col("embedding"))
    val nb = SimilarityOp.NumBands; val bb = SimilarityOp.BandBits
    val both = emb.select(
      graft.functions.SignSketchExpr.column(v, nb, bb).as("fast"),
      array((0 until nb).map(b =>
        VectorFunctions.signSketch(v, bb, 64, b * bb)): _*).as("slow"))
    assert(both.where(col("fast") =!= col("slow")).count() === 0)
    assert(both.count() === 200)
  }

  test("SignSketchExpr is bit-equal to the built-ins for the ANN weight family") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(spark, sfDir).limit(200)
    val v = VectorFunctions.toDoubleArray(col("embedding"))
    val c = SimilarityOp.AnnDefault
    val both = emb.select(
      graft.functions.SignSketchExpr.column(
        v, c.bands, c.bits, c.mulJ, c.mulD, c.mod).as("fast"),
      array((0 until c.bands).map(b =>
        VectorFunctions.signSketch(v, c.bits, 64, b * c.bits,
          c.mulJ, c.mulD, c.mod)): _*).as("slow"))
    assert(both.where(col("fast") =!= col("slow")).count() === 0)
    assert(both.count() === 200)
  }

  test("the ANN weight family is not j-periodic (the legacy one is)") {
    // the defect q83 measured: ((j*37 + d*101) % 13) is periodic in j
    // with period 13, so a 64-bit legacy sketch holds <= 13 distinct
    // hyperplanes; the ANN family must not collapse like that.
    def planes(mulJ: Int, mulD: Int, mod: Int, n: Int): Int =
      (0 until n).map(j => (0 until 64).map(d =>
        ((j * mulJ + d * mulD) % mod) - mod / 2)).distinct.size
    assert(planes(37, 101, 13, 64) === 13)
    val c = SimilarityOp.AnnDefault
    assert(planes(c.mulJ, c.mulD, c.mod, c.bands * c.bits) === c.bands * c.bits)
  }

  test("CosineExpr is bit-equal to the composed-built-ins cosine") {
    import org.apache.spark.sql.functions._
    import graft.functions.{CosineExpr, VectorFunctions}
    val emb = Tables.embeddings(spark, sfDir)
    val v = VectorFunctions.toDoubleArray(col("embedding"))
    val qlit = array(vecs(0L).toSeq.map(lit): _*)
    val both = emb.select(
      CosineExpr.column(v, qlit).as("fast"),
      VectorFunctions.cosine(v, qlit).as("slow"))
    assert(both.where(col("fast") =!= col("slow")).count() === 0)
    assert(both.count() === 500)
  }

  test("L2Expr is bit-equal to the composed-built-ins l2, full and sliced") {
    import org.apache.spark.sql.functions._
    import graft.functions.{L2Expr, VectorFunctions}
    val emb = Tables.embeddings(spark, sfDir)
    val v = VectorFunctions.toDoubleArray(col("embedding"))
    val qlit = array(vecs(7L).toSeq.map(lit): _*)
    val both = emb.select(
      L2Expr.column(v, qlit).as("fast"),
      VectorFunctions.l2(v, qlit).as("slow"),
      L2Expr.column(slice(v, 17, 16), slice(qlit, 17, 16)).as("fast_sub"),
      VectorFunctions.l2(slice(v, 17, 16), slice(qlit, 17, 16)).as("slow_sub"))
    assert(both.where(col("fast") =!= col("slow") ||
      col("fast_sub") =!= col("slow_sub")).count() === 0)
    assert(both.count() === 500)
  }

  test("annTopK returns correctly-scored, correctly-ordered band-mates") {
    val got = SimilarityOp.annTopK(Tables.embeddings(spark, sfDir), 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    val q = vecs(0L)
    // exact cosine for every returned candidate; ordering is (sim desc, id)
    got.foreach { case (id, s) =>
      assert(math.abs(s - math.rint(cos(q, vecs(id)) * 1e6) / 1e6) < 2e-6) }
    assert(got === got.sortBy { case (id, s) => (-s, id) })
    // candidates are a subset of the corpus minus the query itself
    assert(!got.exists(_._1 == 0L))
  }

  test("ivfTopK searches only probed cells and scores exactly") {
    val centerIds = Seq(7L, 42L, 123L)
    val got = SimilarityOp.ivfTopK(Tables.embeddings(spark, sfDir), 0L,
      centerIds, nProbe = 2, k = 10).as[(Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    val q = vecs(0L)
    got.foreach { case (id, s) =>
      assert(math.abs(s - math.rint(cos(q, vecs(id)) * 1e6) / 1e6) < 2e-6) }
    assert(got === got.sortBy { case (id, s) => (-s, id) })
    // brute-force the quantizer: every hit's nearest cell must be one of
    // the query's nProbe nearest cells
    val centers = centerIds.map(id => id -> vecs(id))
    def cellOf(v: Array[Double]): Long = centers
      .map { case (cid, cv) => (cid, math.rint(l2(v, cv) * 1e6) / 1e6) }
      .minBy { case (cid, d) => (d, cid) }._1
    val probes = centers
      .map { case (cid, cv) => (cid, math.rint(l2(q, cv) * 1e6) / 1e6) }
      .sortBy { case (cid, d) => (d, cid) }.take(2).map(_._1).toSet
    got.foreach { case (id, _) => assert(probes.contains(cellOf(vecs(id)))) }
  }

  test("annRecallMulti equals a full driver-side brute force of both arms") {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = 10
    val qids = vecs.keys.filter(_ % 7 == 0).toSeq.sorted
    def rankTopK(q: Long, cand: Seq[Long]): Seq[Long] =
      cand.map(id => (id, r6(cos(vecs(q), vecs(id)))))
        .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    val exact = qids.map(q => q -> rankTopK(q, vecs.keys.filter(_ != q).toSeq)).toMap
    // LSH arm: same sketch family + Hamming-radius multi-probe predicate
    val c = SimilarityOp.AnnDefault
    val sk = vecs.map { case (id, v) =>
      id -> graft.functions.SignSketchExpr.sketchOf(
        v, c.bands, c.bits, c.mulJ, c.mulD, c.mod)
    }
    def lshCand(q: Long): Seq[Long] = vecs.keys.filter(id => id != q &&
      (0 until c.bands).exists(b =>
        java.lang.Long.bitCount(sk(id)(b) ^ sk(q)(b)) <= c.radius)).toSeq
    // IVF arm: nearest cell by rounded l2, (dist, cid) tie order
    val centerIds = Seq(7L, 42L, 123L)
    val centers = centerIds.sorted.map(id => id -> vecs(id))
    def cellOf(v: Array[Double]): Long = centers
      .map { case (cid, cv) => (cid, r6(l2(v, cv))) }
      .minBy { case (cid, d) => (d, cid) }._1
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }
    def ivfCand(q: Long): Seq[Long] = {
      val probes = centers.map { case (cid, cv) => (cid, r6(l2(vecs(q), cv))) }
        .sortBy { case (cid, d) => (d, cid) }.take(2).map(_._1).toSet
      vecs.keys.filter(id => id != q && probes.contains(cells(id))).toSeq
    }
    def arm(cand: Long => Seq[Long]): (Double, Double) = {
      val all = qids.map(q => cand(q))
      val hits = qids.zip(all).map { case (q, cs) =>
        rankTopK(q, cs).toSet.intersect(exact(q).toSet).size
      }.sum
      (r4(all.map(_.size).sum.toDouble / qids.size),
        r4(hits.toDouble / (k * qids.size)))
    }
    val byName = SimilarityOp.annRecallMulti(Tables.embeddings(spark, sfDir))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val (ivfCandMean, ivfRecall) = arm(ivfCand)
    val (lshCandMean, lshRecall) = arm(lshCand)
    assert(byName("ivf") === ((qids.size.toLong, ivfCandMean, ivfRecall)))
    assert(byName("lsh") === ((qids.size.toLong, lshCandMean, lshRecall)))
    // anti-starvation guard (the legacy config measured 0.01 here):
    // the sf0.001 fixture measures 0.7986; the round-7 acceptance bar
    // (mean >= 0.8) is measured at sf0.01 by q84 = 0.8306
    assert(lshRecall >= 0.75)
  }

  test("ivfPartitionedTopK equals ivfTopK and reads only probed cell partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val emb = Tables.embeddings(spark, sfDir)
    val wh = java.nio.file.Files.createTempDirectory("ivf_wh").toString
    val direct = SimilarityOp.ivfTopK(emb, 0L, Seq(7L, 42L, 123L), 2, 10)
      .as[(Long, Double)].collect().toSeq
    val pruned = SimilarityOp.ivfPartitionedTopK(emb, wh)
      .as[(Long, Double)].collect().toSeq
    assert(pruned === direct) // layout-invariant, byte-identical
    // the serve scan: probe filter entirely in PartitionFilters
    val saved = Seq("spark.sql.adaptive.enabled").map(k =>
      k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val scan = SimilarityOp.prunedCellScan(spark,
        spark.catalog.listTables().collect()
          .map(_.name).filter(_.startsWith("g_emb_ivf")).head,
        Seq(7L, 42L))
      val scans = scan.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.forall(_.partitionFilters.nonEmpty),
        s"probe filter did not reach PartitionFilters:\n${scan.queryExecution}")
      assert(scans.forall(_.dataFilters.isEmpty),
        s"cell filter leaked into per-row dataFilters:\n${scan.queryExecution}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("labelCentroids equals the exact fixed-point mean per (label, dim)") {
    val rows = Tables.embeddings(spark, sfDir)
      .select($"label", $"embedding").as[(Int, Array[Float])].collect()
    val got = KMeansOp.labelCentroids(Tables.embeddings(spark, sfDir))
      .collect().map(r =>
        (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val byLabel = rows.groupBy(_._1)
    byLabel.foreach { case (label, vs) =>
      (0 until 64).foreach { d =>
        val qs = vs.map(v => math.floor(v._2(d).toDouble * 1e6).toLong)
        val (n, sum) = (qs.length.toLong, qs.sum)
        // half-up integer division, floor-division identity (DetAgg)
        val x = sum * 2 + n; val den = n * 2
        val exp = (x - (((x % den) + den) % den)) / den / 1e6
        val (gn, gc) = got((label, d.toLong))
        assert(gn === n)
        assert(gc === exp, s"label $label dim $d")
      }
    }
  }

  test("hardNegatives: cross-label only, matches brute force on the fixture") {
    val emb = Tables.embeddings(spark, sfDir)
    val labels: Map[Long, Int] = emb.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    val got = SimilarityOp.hardNegatives(emb, qmod = 97, k = 3)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    assert(got.nonEmpty)
    // every negative has a different label than its query
    got.foreach { case (qid, negId, negLabel, _, _) =>
      assert(labels(negId).toLong === negLabel)
      assert(labels(negId) !== labels(qid))
    }
    // brute force per query: best cross-label neighbors in rank order
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expected = vecs.toSeq
        .filter { case (id, _) => id != qid && labels(id) != labels(qid) }
        .map { case (id, v) => (id, math.rint(cos(vecs(qid), v) * 1e6) / 1e6) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
      assert(rows.sortBy(_._5).map(_._2) === expected)
    }
  }

  test("pqStats: counts cover nSub codes per vector; hand-checked assignment") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = vecs.size
    val out = SimilarityOp.pqStats(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every vector contributes exactly one code per subspace
    (0 until 4).foreach { s =>
      assert(out.filter(_._1 == s).map(_._3).sum === n.toLong)
    }
    // brute-force the (subspace 0) assignment for one vector
    val centers = Seq(7L, 42L, 123L).map(id => id -> vecs(id))
    val probe = vecs.keys.filterNot(Seq(7L, 42L, 123L).contains).min
    val best = centers.map { case (cid, cv) =>
      (math.rint(l2(vecs(probe).slice(0, 16), cv.slice(0, 16)) * 1e6) / 1e6,
        cid)
    }.min._2
    val assigned = SimilarityOp.pqStats(emb, nSub = 4)
    // re-derive via a 1-vector frame to keep the check independent
    val one = SimilarityOp.pqStats(
      emb.where($"vec_id".isin(probe, 7L, 42L, 123L)))
      .collect().filter(r => r.getLong(0) == 0L)
    assert(one.map(_.getLong(2)).sum === 4L) // 4 vecs in subspace 0
    assert(assigned.collect().nonEmpty)
    // the probe's subspace-0 code equals the brute-force argmin: check
    // by removing the probe and confirming exactly its code's count drops
    val withAll = SimilarityOp.pqStats(emb).collect()
      .filter(r => r.getLong(0) == 0L)
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val without = SimilarityOp.pqStats(emb.where($"vec_id" =!= probe))
      .collect().filter(r => r.getLong(0) == 0L)
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    val dropped = withAll.collect {
      case (code, c) if c != without.getOrElse(code, 0L) => code
    }
    assert(dropped.toSeq === Seq(best))
  }

  test("rrfFusion: union of arms, absent arm contributes zero, integer RRF") {
    import graft.operators.SimilarityOp
    import graft.tables.Tables
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val out = SimilarityOp.rrfFusion(docs, emb, Seq("spark", "merge"),
        kEach = 20, k = 40).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (_, tr, vr, rrf) =>
      val expected = tr.map(r => 1000000L / (60L + r)).getOrElse(0L) +
        vr.map(r => 1000000L / (60L + r)).getOrElse(0L)
      assert(rrf === expected)
      assert(tr.nonEmpty || vr.nonEmpty)
    }
    // both-arm docs outrank single-arm docs at comparable ranks
    val fused = out.filter(o => o._2.nonEmpty && o._3.nonEmpty)
    if (fused.nonEmpty) {
      val bestSingle = out.filter(o => o._2.isEmpty || o._3.isEmpty)
        .map(_._4).maxOption.getOrElse(0L)
      assert(fused.map(_._4).max > bestSingle ||
        fused.forall(f => f._2.get + f._3.get > 40))
    }
  }

  test("ivfPqTopK equals a driver-side ADC brute force over probed cells") {
    import graft.operators.SimilarityOp
    val emb = Tables.embeddings(spark, sfDir)
    val centerIds = Seq(7L, 42L, 123L)
    val centers = centerIds.map(id => id -> vecs(id))
    val (nSub, sub) = (4, 16)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def subL2(a: Array[Double], b: Array[Double], s: Int) =
      r6(l2(a.slice(s * sub, (s + 1) * sub), b.slice(s * sub, (s + 1) * sub)))
    val qv = vecs(0L)
    // probe cells: nearest 2 full-dim centers to the query
    val probes = centers.map { case (cid, cv) => (cid, r6(l2(qv, cv))) }
      .sortBy { case (cid, d) => (d, cid) }.take(2).map(_._1).toSet
    def cellOf(v: Array[Double]) = centers
      .map { case (cid, cv) => (cid, r6(l2(v, cv))) }
      .sortBy { case (cid, d) => (d, cid) }.head._1
    val expected = vecs.toSeq
      .filter { case (id, v) => id != 0L && probes.contains(cellOf(v)) }
      .map { case (id, v) =>
        val adc = (0 until nSub).map { s =>
          val code = centers
            .map { case (cid, cv) => (cid, subL2(v, cv, s)) }
            .sortBy { case (cid, d) => (d, cid) }.head._1
          subL2(qv, centers.toMap.apply(code).toArray, s)
        }.sum
        (id, r6(adc))
      }
      .sortBy { case (id, adc) => (adc, id) }.take(10)
    val got = SimilarityOp.ivfPqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) === expected.map(_._1))
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 2e-6) }
  }

  test("LSH near-dup pairs all satisfy the cosine threshold, symmetric blocking") {
    val pairs = SimilarityOp.nearDupLsh(Tables.embeddings(spark, sfDir), 0.2)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, c) =>
      assert(a < b)
      assert(c >= 0.2)
      assert(math.abs(c - math.rint(cos(vecs(a), vecs(b)) * 1e4) / 1e4) < 2e-4)
    }
  }

  test("sign-signature layout: narrower bands are exact prefixes; " +
       "layout-served sweep equals live recompute") {
    // hyperplane j = band*bits + k depends only on its global index and
    // the weight family, so the widest sketch's bands are byte-exact
    // prefixes of every narrower same-family sketch — the property the
    // q85 signature layout rides on
    val c = SimilarityOp.AnnDefault
    val v = Array.tabulate(64)(i => math.sin(i * 1.7) * (i % 5 - 2))
    val wide = graft.functions.SignSketchExpr.sketchOf(
      v, c.bands, c.bits, c.mulJ, c.mulD, c.mod)
    for (b <- Seq(8, 16)) {
      val narrow = graft.functions.SignSketchExpr.sketchOf(
        v, b, c.bits, c.mulJ, c.mulD, c.mod)
      assert(wide.take(b).toSeq === narrow.toSeq)
    }
    // end-to-end: the tagged sweep (new-family arms reading the
    // write-once signature layout with a pushed band filter) must be
    // row-identical to the untagged all-live sweep
    val wh = java.nio.file.Files.createTempDirectory("sigs-wh").toString
    val emb = Tables.embeddings(spark, sfDir)
    val live = SimilarityOp.annRecallSweep(emb, warehouse = wh)
      .collect().map(_.toSeq).toSeq
    val served = SimilarityOp.annRecallSweep(emb, warehouse = wh,
      inputTag = Some(sfDir)).collect().map(_.toSeq).toSeq
    assert(served === live)
  }

  test("recallArms window-rank switch is row-identical to the fold form, " +
       "zero-norm (NaN-sim) candidates included") {
    // r17: the default rank is the bounded BottomKExpr fold; the window
    // form stays behind spark.graft.recallArms.windowTopK as the A/B
    // reference. Both must be row-identical — including when a
    // candidate's cosine is NaN (zero-norm vector), which the window
    // sorts FIRST under sim DESC and the fold maps to Long.MinValue.
    val wh = java.nio.file.Files.createTempDirectory("foldtopk-wh").toString
    val emb = Tables.embeddings(spark, sfDir)
    def both(e: org.apache.spark.sql.DataFrame,
             f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val fold = f(e).collect().map(_.toSeq).toSeq
      spark.conf.set("spark.graft.recallArms.windowTopK", "true")
      val win =
        try f(e).collect().map(_.toSeq).toSeq
        finally spark.conf.unset("spark.graft.recallArms.windowTopK")
      (fold, win)
    }
    val (fold1, win1) = both(emb,
      SimilarityOp.annRecallSweep(_, warehouse = wh))
    assert(fold1 === win1)
    // synthetic corpus with a planted zero-norm vector (NaN cosine
    // against every query) plus tie-heavy duplicate-direction vectors
    val vecs = (0 until 40).map { i =>
      val a = Array.fill(8)(0.0f)
      if (i == 13) () // vec 13 stays all-zero → NaN sim
      else { a(i % 4) = 1.0f; a(4 + i % 3) = (1 + i % 2).toFloat }
      (i.toLong, a)
    }
    import spark.implicits._
    val synth = vecs.toDF("vec_id", "embedding")
    val (fold2, win2) = both(synth,
      SimilarityOp.annRecallMulti(_, qmod = 7, k = 5,
        centerIds = Seq(3L, 11L, 26L), warehouse = wh))
    assert(fold2.nonEmpty && fold2 === win2)
  }

  test("knnLabelAccuracy: clean clusters score 1.0, planted mislabel drops its class") {
    // two tight clusters on orthogonal axes; qmod 7 picks 0 and 7 as
    // queries (one per cluster). All of cluster 0 is label 0, all of
    // cluster 1 is label 1 → both queries' 3-NN majority is correct.
    def v(axis: Int, i: Int): Array[Float] = {
      val a = Array.fill(4)(0.001f * i)
      a(axis) = 1.0f; a
    }
    val clean = ((0 to 6).map(i => (i.toLong, v(0, i), 0)) ++
      (7 to 13).map(i => (i.toLong, v(1, i), 1)))
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOp.knnLabelAccuracy(clean, qmod = 7, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(0L -> ((1L, 1L, 1.0)), 1L -> ((1L, 1L, 1.0))))
    // flip the LABEL of query 0's entire neighbourhood: its majority
    // vote is now label 1, so class 0's accuracy collapses to 0
    val flipped = ((0 to 6).map(i =>
      (i.toLong, v(0, i), if (i == 0) 0 else 1)) ++
      (7 to 13).map(i => (i.toLong, v(1, i), 1)))
      .toDF("vec_id", "embedding", "label")
    val out2 = SimilarityOp.knnLabelAccuracy(flipped, qmod = 7, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out2(0L) === ((1L, 0L, 0.0)))
    assert(out2(1L) === ((1L, 1L, 1.0)))
  }

  test("topKPerQuery sketch ranking equals the row_number window form " +
      "(GT and trunc layout builders)") {
    val emb = Tables.embeddings(spark, sfDir)
    // the ground-truth build shape (full-dim cosine, k=10), at both
    // qmods the layouts are built at — ties included, so this also
    // exercises the (sim DESC, vec_id ASC) → (-sim_ppm, id) key mapping
    for (qmod <- Seq(7, 29)) {
      val viaSketch = SimilarityOp.exactTopKMultiRanked(emb, qmod, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val viaWindow = SimilarityOp.exactTopKMultiRankedWindow(emb, qmod, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaSketch.nonEmpty)
      assert(viaSketch === viaWindow, s"GT parity broke at qmod=$qmod")
    }
    // the trunc-candidate build shape (prefix-space cosine, c=50)
    for (d <- Seq(16, 32)) {
      val viaSketch = SimilarityOp.truncCandidatesMulti(emb, 7, d, 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaWindow = SimilarityOp.truncCandidatesMultiWindow(emb, 7, d, 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaSketch.nonEmpty)
      assert(viaSketch === viaWindow, s"trunc parity broke at d=$d")
    }
  }

  test("two-pass coarse-bucket selection equals the sketch fold on the " +
      "real scored expansion (serve-time q206-family form)") {
    import spark.implicits._
    // the serve-time scored shape, built in-spec from the fixture so
    // both forms consume the IDENTICAL frame (rounding included)
    val scored = (for {
      (qid, qv) <- vecs.toSeq if qid % 7 == 0
      (vid, v) <- vecs.toSeq if vid != qid
    } yield (qid, vid, cos(qv, v)))
      .toDF("qid", "vec_id", "sim")
      .select($"qid", $"vec_id", org.apache.spark.sql.functions
        .round($"sim", 6).as("sim"))
    for (k <- Seq(1, 3, 10); shift <- Seq(4, 12, 24)) {
      val sketch = SimilarityOp.topKPerQueryScored(scored, k)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val twoPass = SimilarityOp.topKPerQueryScoredTwoPass(scored, k, shift)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(sketch.nonEmpty)
      assert(twoPass === sketch, s"two-pass parity broke at k=$k shift=$shift")
    }
  }

  test("lifted serve session: rebound fold equals the main-session fold, " +
      "carries the lifted threshold, and leaves the main conf untouched") {
    import spark.implicits._
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val scored = (for {
      (qid, qv) <- vecs.toSeq if qid % 7 == 0
      (vid, v) <- vecs.toSeq if vid != qid
    } yield (qid, vid, cos(qv, v)))
      .toDF("qid", "vec_id", "sim")
      .select($"qid", $"vec_id", org.apache.spark.sql.functions
        .round($"sim", 6).as("sim"))
    val viaMain = SimilarityOp.topKPerQueryScored(scored, 5)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val rebound = SimilarityOp.rebindLifted(scored)
    // the rebound frame is owned by the lifted session, which carries
    // the hash-mode threshold; the shared session's conf is untouched
    assert(rebound.sparkSession ne spark)
    assert(rebound.sparkSession.conf.get(key) === "262144")
    assert(spark.conf.getOption(key).forall(_ != "262144"))
    val viaLifted = SimilarityOp.topKPerQueryScored(rebound, 5)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaLifted === viaMain)
    // memoized: one child session per root session
    assert(SimilarityOp.rebindLifted(scored).sparkSession eq
      rebound.sparkSession)
  }

  test("serveCorpus pin: a big expansion rebinds the serve plan onto the " +
      "lifted session, a small one stays on the caller's session") {
    import org.apache.spark.sql.functions.{array, col, lit}
    def corpus(n: Long) = spark.range(n)
      .select(col("id").as("vec_id"),
        array(lit(1f), lit(2f)).as("embedding"), lit(0L).as("label"))
    // est pairs for mutualKnn = (n/qmod + 1)^2: 2901^2 ≈ 8.4M crosses
    // the 8M pin, 101^2 does not. Construction is lazy — only the pin
    // count job runs here, never the expansion.
    assert(SimilarityOp.mutualKnn(corpus(2900), qmod = 1).sparkSession
      ne spark)
    assert(SimilarityOp.mutualKnn(corpus(100), qmod = 1).sparkSession
      eq spark)
  }

  test("serve-fold pin is conf-tunable per session " +
      "(spark.graft.serveFold.maxPairs), default unchanged") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // a session pinned at 100 pairs rebinds even a tiny expansion...
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.serveFold.maxPairs", "100")
    def corpus(s: org.apache.spark.sql.SparkSession, n: Long) = s.range(n)
      .select(col("id").as("vec_id"),
        array(lit(1f), lit(2f)).as("embedding"), lit(0L).as("label"))
    assert(SimilarityOp.serveFoldMaxPairs(s2) === 100L)
    assert(SimilarityOp.mutualKnn(corpus(s2, 100), qmod = 1).sparkSession
      ne s2)
    // ...and the pin is read ONCE per session: flipping the conf after
    // first use must not flip the dispatch mid-query-set
    s2.conf.set("spark.graft.serveFold.maxPairs", "999999999")
    assert(SimilarityOp.serveFoldMaxPairs(s2) === 100L)
    // untouched sessions keep the measured default
    assert(SimilarityOp.serveFoldMaxPairs(spark) === (8L << 20))
  }

  test("above the pin, binaryQuantRecall releases its shortlist cache " +
      "once the audit summary is pinned (r16 lifecycle; pinned path " +
      "forced via the conf-tunable pin on a tiny corpus)") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.serveFold.maxPairs", "10")
    // 60 deterministic 4-dim vectors; est pairs (60/2+1)*60 = 1860 > 10
    val emb = s2.range(60).select(col("id").as("vec_id"),
      array((0 until 4).map(j =>
        (((col("id") + j) % 5) - lit(2)).cast("float")): _*).as("embedding"),
      lit(0L).as("label"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = SimilarityOp.binaryQuantRecall(emb, qmod = 2, k = 3,
      cs = Seq(3, 5), inputTag = None)
    // the pinned path really ran: the serve plan was rebound onto the
    // lifted child session and the result came back eagerly pinned
    assert(out.sparkSession ne s2)
    assert(out.collect().length === 2) // one row per arm
    // ...and at most the localCheckpoint of the 2-row summary remains
    // cached — the 30x5-row ranked shortlist persist was released
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.diff(before).size <= 1,
      s"leaked cached RDDs: ${after.diff(before)}")
  }

  test("bottomKByKeyTwoPass edge cases: ties at bucket boundaries, " +
      "groups smaller than k, negative keys, degenerate one-bucket shift") {
    import spark.implicits._
    // crafted keys: bucket-edge values at shift 3 and 12, duplicate
    // keys (ties broken by vec_id), a negative run, one group with
    // fewer rows than k
    val rows = Seq(
      (1L, 10L, 4095L), (1L, 11L, 4096L), (1L, 12L, 4097L),
      (1L, 13L, 4095L), (1L, 14L, -8192L), (1L, 15L, -8191L),
      (1L, 16L, 0L), (1L, 17L, 7L), (1L, 18L, 8L), (1L, 19L, -1L),
      (2L, 20L, 5L), (2L, 21L, 5L), (2L, 22L, 5L),
      (3L, 30L, Long.MinValue / 4), (3L, 31L, Long.MaxValue / 4))
    val keyed = rows.toDF("qid", "vec_id", "key")
    for (k <- Seq(1, 2, 5, 8); shift <- Seq(0, 3, 12, 40)) {
      val got = SimilarityOp.bottomKByKeyTwoPass(keyed, k, shift)
        .select($"qid", $"vec_id", $"rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = rows.groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
        rs.sortBy(r => (r._3, r._2)).take(k).zipWithIndex
          .map { case (r, i) => (qid, r._2, i + 1) }
      }.toSet
      assert(got === want, s"edge-case parity broke at k=$k shift=$shift")
    }
  }
}
