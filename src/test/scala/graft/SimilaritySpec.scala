package graft

/** Dual-implementation checks for the similarity family's round-4
  * addition — the DuckDB oracle proves cross-engine equality; this
  * proves the SEMANTICS (exact-decimal centroids, IEEE cosine chain)
  * are the intended ones. */
class SimilaritySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("q118 equals an independent Scala centroid cosine computation") {
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    // mirror davg(x, 15): each double rounds to decimal(30,15) via its
    // shortest-decimal form HALF_UP (Spark's Decimal(double) path),
    // the decimal sum is exact, then ONE IEEE division by the count
    def d15(x: Double) = BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = raw.groupBy(_._1).map { case (l, vs) =>
      val n = vs.length
      val cv = vs.head._2.indices.map { j =>
        vs.map(v => d15(v._2(j))).sum.toDouble / n
      }.toArray
      l -> ((cv, n.toLong))
    }
    val expected = (for {
      (la, (cva, na)) <- cents
      (lb, (cvb, nb)) <- cents if la < lb
    } yield (la, lb, na, nb,
      r6(dot(cva, cvb) / (math.sqrt(dot(cva, cva)) * math.sqrt(dot(cvb, cvb)))))).toSet
    val got = run("q118_label_centroid_overlap").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(got.size == expected.size && got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // the matrix is complete: C(|labels|, 2) pairs
    val nLabels = cents.size
    assert(got.size == nLabels * (nLabels - 1) / 2)
  }

  test("q124 semdedup equals a Scala no-earlier-neighbor filter") {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val byLabel = raw.groupBy(_._2)
    // the one-pass dominance rule: drop v iff ANY same-label u with
    // u.id < v.id has rounded cosine >= tau (kept or not)
    val dropped = byLabel.values.flatMap { vs =>
      vs.collect { case (idb, _, vb) if vs.exists { case (ida, _, va) =>
        ida < idb && r6(dot(va, vb) /
          (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb)))) >= 0.35
      } => idb }
    }.toSet
    val expected = raw.filter(v => !dropped(v._1)).map(v => (v._1, v._2)).toSet
    val got = run("q124_semdedup").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // keep-first law: every label's minimum vec_id always survives
    byLabel.foreach { case (l, vs) =>
      assert(got.contains((vs.map(_._1).min, l)), s"label $l lost its head") }
  }

  test("q136 per-dimension stats equal a decimal-quantized re-derivation") {
    def d10(x: Double) = BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val nDims = raw.head.length
    val expected = (0 until nDims).map { d =>
      val xs = raw.map(_(d))
      val n = xs.length.toLong
      val mean = xs.map(d10).sum.toDouble / n
      val ex2 = xs.map(x => d10(x * x)).sum.toDouble / n
      (d, n, r6(mean), r6(ex2 - mean * mean),
        r6(xs.min), r6(xs.max), r6(xs.count(_ == 0.0).toDouble / n))
    }
    val got = run("q136_embedding_stats").collect().map { r =>
      (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))
    }.toSeq
    assert(got == expected, s"got=${got.take(2)} expected=${expected.take(2)}")
    // health-check laws: variance is non-negative post-rounding slack
    got.foreach { case (d, _, _, v, mn, mx, zf) =>
      assert(v >= -1e-6 && mn <= mx && zf >= 0.0 && zf <= 1.0, s"dim $d") }
  }

  test("q158 matches a brute-force triplet reference; negative margins kept, leg-less anchors dropped") {
    import spark.implicits._
    import java.nio.file.Files
    val vecs: Seq[(Long, Int, Seq[Float])] = Seq(
      (0L, 1, Seq(1f, 0f, 0f, 0f)),        // anchor: pos=100, but 102 is CLOSER -> negative margin
      (1L, 3, Seq(0f, 1f, 0f, 0f)),        // anchor: same-label 103 below tau -> NO positive -> dropped
      (2L, 5, Seq(0f, 0f, 1f, 0f)),        // anchor: clean positive 105, far negatives
      (100L, 1, Seq(0.9f, 0.1f, 0f, 0f)),  // positive for 0
      (101L, 1, Seq(0.5f, 0.5f, 0f, 0f)),  // weaker same-label for 0
      (102L, 2, Seq(0.95f, 0.05f, 0f, 0f)),// HARD negative for 0 (cos > pos_cos)
      (103L, 3, Seq(0f, 0.2f, 0.9f, 0f)),  // same-label as 1 but cos < 0.35
      (104L, 4, Seq(0f, 0.9f, 0.1f, 0f)),  // negative for 1 (unused: 1 has no pos)
      (105L, 5, Seq(0f, 0f, 0.99f, 0.01f)))// positive for 2
    val d = Files.createTempDirectory("triplets").toString
    vecs.toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")

    // brute-force reference mirroring the operator's rounding contract:
    // round cosine to 1e-6 FIRST, argmax by (cosr, -cid)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Seq[Float], b: Seq[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    def cos(a: Seq[Float], b: Seq[Float]) =
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val expected = vecs.filter(_._1 < 50).flatMap { case (qid, ql, qv) =>
      val cands = vecs.filter(_._1 != qid)
        .map { case (cid, cl, cv) => (cid, cl, cos(qv, cv)) }
      val pos = cands.filter(c => c._2 == ql && c._3 >= 0.35)
        .sortBy(c => (-c._3, c._1)).headOption
      val neg = cands.filter(_._2 != ql)
        .sortBy(c => (-c._3, c._1)).headOption
      for (p <- pos; g <- neg)
        yield (qid, p._1, p._3, g._1, g._3, r6(p._3 - g._3))
    }
    val got = SparkEntry.queries("q158_triplet_mining")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected, s"got=$got\nexpected=$expected")
    // the designed cases actually bit:
    val byQ = got.map(t => t._1 -> t).toMap
    assert(byQ(0L)._6 < 0, "anchor 0's hard negative outranks its positive")
    assert(!byQ.contains(1L), "anchor without a qualifying positive must be dropped")
    assert(byQ(2L)._2 == 105L && byQ(2L)._6 > 0)
  }

  test("q162 equals a brute-force farthest-point-sampling reference; radius curve non-increasing") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nn = vecs.map { case (id, v) => (id, v, dot(v, v)) }
    var centers = Vector(nn.head) // min vec_id
    var expect = Vector((1, nn.head._1, 0.0))
    for (r <- 2 to 6) {
      // mirror the operator's rounding contract: round EACH pair d2,
      // then min, then argmax over UNSELECTED points, smallest-id ties
      val sel = centers.map(_._1).toSet
      val next = nn.filterNot(x => sel(x._1)).map { case (id, v, vv) =>
        val dmin = centers.map { case (_, cv, cc) => r6(vv - 2.0 * dot(v, cv) + cc) }.min
        (id, v, vv, dmin)
      }.minBy { case (id, _, _, dmin) => (-dmin, id) }
      expect :+= ((r, next._1, next._4))
      centers :+= ((next._1, next._2, next._3))
    }
    val got = SparkEntry.queries("q162_fps_coreset")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toVector
    assert(got == expect, s"got=$got expect=$expect")
    // the k-center property the curve is FOR: radii never increase
    got.drop(1).sliding(2).foreach {
      case Vector(a, b) => assert(b._3 <= a._3, s"radius rose: $a -> $b")
      case _ =>
    }
  }

  test("q162 degenerate coverage: duplicate-heavy corpus picks unselected duplicates, never re-publishes a center") {
    import spark.implicits._
    import java.nio.file.Files
    // 3 distinct directions, each duplicated — after round 3 every
    // point is at rounded distance 0 from the selected set, the case
    // where an argmax over ALL points would re-pick center #1
    val vecs = Seq(
      (0L, 1, Seq(1f, 0f, 0f)), (1L, 1, Seq(1f, 0f, 0f)),
      (2L, 2, Seq(0f, 1f, 0f)), (3L, 2, Seq(0f, 1f, 0f)),
      (4L, 3, Seq(0f, 0f, 1f)), (5L, 3, Seq(0f, 0f, 1f)))
    val d = Files.createTempDirectory("fpsdup").toString
    vecs.toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = SparkEntry.queries("q162_fps_coreset")(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(_._2).distinct.length == 6, s"re-published a selected center: ${got.toSeq}")
    // rounds 1-3 pick the three distinct directions (0, then farthest),
    // rounds 4-6 sweep up the zero-distance duplicates by id
    assert(got.map(_._2).toSet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(got.filter(_._1 >= 4).forall(_._3 == 0.0), s"duplicates should be radius 0: ${got.toSeq}")
  }

  test("q168 √n-nlist contract: trained cells, bounded candidates, recall-per-candidate beats fixed-nlist q137") {
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val rows = run("q168_ivf_sqrtn_recall").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    // the √n computation itself is part of the published output
    assert(rows.forall(_._2 == math.ceil(math.sqrt(n.toDouble)).toLong))
    // candidate volume grows with nprobe; hits can only be gained by
    // probing MORE cells (the top-5-of-superset argument, mod ties)
    assert(rows.map(_._4).toSeq == rows.map(_._4).toSeq.sorted)
    assert(rows.map(_._5).toSeq == rows.map(_._5).toSeq.sorted)
    // the scale contract: a probe scans ~n/√n = √n candidates, far
    // below the brute-force n-1 per query (allow 4x cell imbalance)
    val perQuery1 = rows.head._4.toDouble / rows.head._3
    assert(perQuery1 <= 4 * math.sqrt(n.toDouble),
      s"nprobe=1 scans $perQuery1 per query — cells are degenerate")
    // the reason to TRAIN cells: recall per candidate examined must
    // beat q137's fixed-label cells at the same nprobe
    val q137 = run("q137_ann_recall").collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getDouble(4))).sortBy(_._1)
    val effT = rows.head._6 / rows.head._4   // trained: recall@5 / candidates
    val effF = q137.head._3 / q137.head._2   // fixed labels
    assert(effT > effF,
      s"trained √n cells ($effT) must beat fixed labels ($effF) on recall-per-candidate")
  }

  test("q178 cell-balance audit: masses conserve, imbalance consistent, index matches q168's nlist") {
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val r = run("q178_ivf_cell_balance").collect()
    assert(r.length == 1)
    val (nlist, used, nv, mx, mean, imb) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getLong(3), r(0).getDouble(4), r(0).getDouble(5))
    assert(nlist == math.ceil(math.sqrt(n.toDouble)).toLong)
    assert(nv == n, s"every vector must land in exactly one cell: $nv != $n")
    assert(used <= nlist && mx >= nv / nlist)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mean == r6(nv.toDouble / nlist) && imb == r6(mx.toDouble * nlist / nv))
    assert(imb >= 1.0, "max cell cannot be below the mean")
    // and the audited index is the one q168 probes: same nlist
    val q168 = run("q168_ivf_sqrtn_recall").collect()
    assert(q168.forall(_.getLong(1) == nlist))
  }

  test("q179 equals an independent Scala PQ/ADC reference (codebook, codes, integer-scaled ADC, both recalls)") {
    // full-chain dual implementation: subvector split -> seeded Lloyd
    // round with decimal(30,15) means -> per-subspace argmin with the
    // (round-6, cid) tie contract -> integer-scaled ADC sums -> top-5
    // and top-50 vs the exact L2 top-5. Pins the SEMANTICS engine-
    // independently; the DuckDB oracle separately proves cross-engine
    // equality of the same chain.
    val m = 8; val dsub = 8; val k = 16
    def d15(x: Double) = BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val sub = raw.flatMap { case (id, v) =>
      (0 until m).map(s => ((id, s), v.slice(s * dsub, s * dsub + dsub)))
    }.toMap
    def argmin(book: Map[(Int, Int), Array[Double]]): Map[(Long, Int), Int] =
      sub.map { case ((id, s), sv) =>
        val ss = dot(sv, sv)
        val best = book.collect { case ((bs, cid), cv) if bs == s =>
          (r6(ss - 2.0 * dot(sv, cv) + dot(cv, cv)), cid)
        }.min
        (id, s) -> best._2
      }
    val seed = (for (s <- 0 until m; c <- 0 until k) yield ((s, c), sub((c.toLong, s)))).toMap
    val a0 = argmin(seed)
    val book = (for (s <- 0 until m; c <- 0 until k) yield (s, c)).flatMap { case (s, c) =>
      val members = raw.map(_._1).filter(id => a0((id, s)) == c)
      if (members.isEmpty) None
      else Some((s, c) -> (0 until dsub).map { j =>
        members.map(id => d15(sub((id, s))(j))).sum.toDouble / members.size
      }.toArray)
    }.toMap
    val codes = argmin(book)
    def si(qsv: Array[Double], cv: Array[Double]): Long = {
      val d = r6(dot(qsv, qsv) - 2.0 * dot(qsv, cv) + dot(cv, cv))
      BigDecimal(d * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val ids = raw.map(_._1)
    val expected = ids.filter(_ < 50).map { qid =>
      val adc = ids.filter(_ != qid).map { id =>
        id -> (0 until m).map(s => si(sub((qid, s)), book((s, codes((id, s)))))).sum
      }
      val aRank = adc.sortBy { case (id, d) => (d, id) }.map(_._1)
      val qv = raw.find(_._1 == qid).get._2
      val eTop = ids.filter(_ != qid).map { id =>
        id -> r6 {
          val bv = raw.find(_._1 == id).get._2
          dot(qv, qv) - 2.0 * dot(qv, bv) + dot(bv, bv)
        }
      }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
      val hits = aRank.take(5).count(eTop)
      val slHits = aRank.take(50).count(eTop)
      (qid, hits.toLong, r6(hits / 5.0), slHits.toLong, r6(slHits / 5.0))
    }.sortBy(_._1)
    val got = run("q179_pq_adc_recall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"got $g expected $e") }
    // structure: the shortlist can only add coverage (top-50 superset of top-5)
    got.foreach { case (_, h, _, sl, _) => assert(sl >= h) }
  }

  test("q185 composes q168's index consistently: same nlist and candidate volumes, exact-re-rank identity, recall within the q168 ceiling's neighborhood") {
    // the chain semantics are pinned by the DuckDB oracle (probe/ADC/
    // re-rank CTEs) and by q168's/q179's dual-implementation tests on
    // the shared halves; this gates the COMPOSITION invariants.
    val got = run("q185_ivfpq_recall").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 2, 3), "one row per nprobe")
    val ivf = run("q168_ivf_sqrtn_recall").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    // same memoized index + same probe contract => identical nlist and
    // per-np candidate volumes as q168
    got.zip(ivf).foreach { case ((np, nlist, _, cand, _, _, _, _), (inp, inlist, icand)) =>
      assert(np == inp && nlist == inlist && cand == icand,
        s"q185 np=$np diverges from q168's index: ($nlist,$cand) vs ($inlist,$icand)")
    }
    got.foreach { case (np, _, nq, cand, slHits, hits, rsl, r5) =>
      // exact-re-rank identity: a true top-5 member in the shortlist has
      // a smaller exact d2 than every non-member, so it always survives
      assert(hits == slHits, s"np=$np: re-rank must attain the shortlist ceiling")
      assert(rsl == r5)
      assert(hits <= nq * 5 && cand >= hits)
    }
    // more probes never shrink the candidate set
    assert(got.map(_._4).toSeq == got.map(_._4).sorted.toSeq)
  }

  test("q186 residual IVF-PQ: identical probe geometry to q185 (same nlist, same candidate volumes), same exact-re-rank identity") {
    // the residual encoding changes WHAT the 32 bits describe, never
    // which candidates are probed — so the volume columns must be
    // bit-identical to q185's, and only the recall columns may differ.
    def rows(name: String) = run(name).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7)))
      .sortBy(_._1)
    val res = rows("q186_ivfpq_residual_recall")
    val raw = rows("q185_ivfpq_recall")
    assert(res.map(_._1).toSeq == Seq(1, 2, 3))
    res.zip(raw).foreach { case (a, b) =>
      assert(a._2 == b._2 && a._3 == b._3 && a._4 == b._4,
        s"np=${a._1}: probe geometry diverged from q185: (${a._2},${a._3},${a._4}) vs (${b._2},${b._3},${b._4})")
    }
    res.foreach { case (np, _, nq, cand, slHits, hits, rsl, r5) =>
      assert(hits == slHits && rsl == r5,
        s"np=$np: exact re-rank must attain the shortlist ceiling")
      assert(hits <= nq * 5 && cand >= hits)
    }
  }

  test("q187 shortlist budget: monotone recall in L, and L=50 replays q186's np=3 row exactly") {
    val got = run("q187_ivfpq_shortlist_budget").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(10, 25, 50, 100))
    // recall@5 never decreases with shortlist budget: a larger
    // shortlist is a superset, and the exact re-rank always surfaces
    // any true top-5 member it contains
    assert(got.map(_._6).toSeq == got.map(_._6).sorted.toSeq,
      s"recall must be monotone in L: ${got.map(_._6).mkString(",")}")
    // sl_rows per L is capped by both L·queries and the candidate pool
    got.foreach { case (l, _, nq, slRows, hits, _) =>
      assert(slRows <= l.toLong * nq && hits <= nq * 5)
    }
    // cross-gate: L=50 at full probes is EXACTLY q186's np=3 contract
    val q186np3 = run("q186_ivfpq_residual_recall").collect()
      .map(r => (r.getInt(0), r.getLong(5), r.getDouble(7)))
      .find(_._1 == 3).get
    val l50 = got.find(_._1 == 50).get
    assert(l50._5 == q186np3._2 && l50._6 == q186np3._3,
      s"q187@L=50 (${l50._5}, ${l50._6}) must replay q186@np=3 (${q186np3._2}, ${q186np3._3})")
  }

  test("q188 matryoshka audit: d=64 is the identity row, captured energy is strictly monotone in the prefix") {
    val got = run("q188_matryoshka_recall").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(16, 32, 48, 64))
    val full = got.last
    assert(full._4 == 1.0 && full._5 == 1.0,
      s"the full-dims row must be the identity (got recall=${full._4}, energy=${full._5})")
    // prefix energy strictly grows with d (each extra dim adds ≥0 mass,
    // and these vectors have no all-zero suffix)
    assert(got.map(_._5).toSeq == got.map(_._5).sorted.toSeq)
    assert(got.init.forall(r => r._5 < 1.0))
    got.foreach { case (_, nq, hits, _, _) => assert(hits <= nq * 5) }
  }

  test("q189 incremental ingest: masses conserve across the 90/10 split, frozen-index invariants hold") {
    val r = run("q189_ivf_incremental_ingest").collect()
    assert(r.length == 1)
    val row = r.head
    val Seq(nlist, usedOld, gaining, nOld, nNew, maxOld, maxAfter) =
      (0 to 6).map(row.getLong)
    val (imbOld, imbAfter) = (row.getDouble(7), row.getDouble(8))
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(nOld == n * 9 / 10 && nOld + nNew == n,
      s"split must partition the corpus exactly: $nOld + $nNew vs $n")
    assert(usedOld <= nlist && gaining <= nlist,
      "cell census cannot exceed the trained cell count")
    assert(maxAfter >= maxOld, "adding vectors can only grow the max cell")
    assert(imbOld >= 1.0 && imbAfter >= 1.0, "max cell cannot be below the mean")
    // the frozen index must be the OLD-slice training, not the full-corpus one
    assert(nlist == math.ceil(math.sqrt(nOld.toDouble)).toLong)
  }

  test("q190 bits budget: 32-bit row replays q186's np=3 leg, volumes constant across bits") {
    val got = run("q190_ivfpq_bits_budget").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(16, 32, 64))
    // the bits dial changes only ADC fidelity — probe geometry and
    // shortlist budget are fixed at np=3/L=50, so nlist, n_queries
    // and sl_rows must be identical across the three legs
    assert(got.map(t => (t._2, t._3, t._4)).distinct.length == 1,
      s"volume columns must not move with bits: $got")
    got.foreach { case (b, _, nq, slRows, hits, r5) =>
      assert(hits <= nq * 5 && slRows <= 50L * nq, s"bits=$b row out of bounds")
      assert(r5 >= 0.0 && r5 <= 1.0)
    }
    // cross-gate: the 32-bit leg IS q186's committed configuration
    // (same memoized residual codebook, np=3, L=50) — hits and recall
    // must replay its np=3 row exactly
    val q186np3 = run("q186_ivfpq_residual_recall").collect()
      .map(r => (r.getInt(0), r.getLong(5), r.getDouble(7)))
      .find(_._1 == 3).get
    val b32 = got.find(_._1 == 32).get
    assert(b32._5 == q186np3._2 && b32._6 == q186np3._3,
      s"q190@32bits (${b32._5}, ${b32._6}) must replay q186@np=3 (${q186np3._2}, ${q186np3._3})")
  }

  test("q192 semantic decontamination: flagged ids are corpus-side, best match agrees with a brute-force replay") {
    import spark.implicits._
    val got = run("q192_semantic_decontam").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty, "the sf0.001 corpus must flag at least one vector")
    got.foreach { case (vid, bid, cos, n) =>
      assert(vid >= 50 && bid < 50, s"($vid,$bid): benchmark side must stay the probe set")
      assert(cos >= 0.35 && cos <= 1.0 && n >= 1)
    }
    // brute-force replay of the argmax contract on the raw table
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", org.apache.spark.sql.functions
        .expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map(t => t._1 * t._2).sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      BigDecimal(d / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val bench = e.filter(_._1 < 50)
    val want = e.filter(_._1 >= 50).toSeq.flatMap { case (vid, v) =>
      val hits = bench.toSeq.map { case (bid, bv) => (bid, cos(v, bv)) }
        .filter(_._2 >= 0.35)
      if (hits.isEmpty) None
      else {
        val best = hits.minBy { case (bid, c) => (-c, bid) }
        Some((vid, best._1, best._2, hits.size.toLong))
      }
    }.sortBy(_._1)
    assert(got.sortBy(_._1).toSeq == want, s"got ${got.toSeq}\nwant $want")
  }

  test("q196 tombstones: a fully-deleted cluster's cells cross the compaction trigger, masses conserve") {
    import spark.implicits._
    import java.nio.file.Files
    // cluster A (label 0 — tombstoned by the label ≡ 0 mod 5 rule):
    // 9 tight vectors around (10,10,10,10); cluster B (label 1, kept):
    // 12 around (-10,...). Far-apart clusters so every trained cell is
    // label-pure: A's cells go 100% dead (compact MUST fire), B's stay
    // fully live.
    val vecs: Seq[(Long, Long, Seq[Float])] =
      (0L until 9L).map(i => (i, 0L, Seq(10f + 0.1f * i, 10f, 10f, 10f))) ++
      (9L until 21L).map(i => (i, 1L, Seq(-10f, -10f - 0.1f * i, -10f, -10f)))
    val d = Files.createTempDirectory("tombfix").toString
    vecs.toDF("vec_id", "label", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val rows = SparkEntry.queries("q196_ivf_tombstones")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    // mass conservation: every vector lands in exactly one cell
    assert(rows.map(_._2).sum == 21L, rows.mkString(", "))
    assert(rows.map(_._2).sum - rows.map(_._3).sum == 9L, "9 tombstoned vectors")
    // the internal identities the row publishes
    rows.foreach { case (_, tot, live, frac, compact) =>
      assert(frac == BigDecimal(live.toDouble / tot)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(compact == (live * 2 < tot))
    }
    // label-pure geometry: A's cells are 100% dead and FIRE the
    // trigger; B's cells are untouched
    assert(rows.exists(r => r._5 && r._3 == 0L),
      s"a fully-tombstoned cell must fire compaction: ${rows.mkString(", ")}")
    assert(rows.filter(!_._5).forall(_._4 == 1.0),
      s"kept cluster's cells must be fully live: ${rows.mkString(", ")}")
  }

  test("q203 MMR equals an independent Scala greedy replay, and diversity genuinely binds") {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val q0 = raw.find(_._1 == 0L).get._2
    val nq = math.sqrt(dot(q0, q0))
    def cos(a: Array[Double], b: Array[Double]) =
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val cand = raw.filter(_._1 != 0L)
      .map { case (id, v) => (id, v, r6(dot(q0, v) / (nq * math.sqrt(dot(v, v))))) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(20)
    val rel = cand.map(c => c._1 -> c._3).toMap
    val vecs = cand.map(c => c._1 -> c._2).toMap
    var selected = Vector.empty[(Int, Long, Double, Double)]
    var remaining = rel.keySet
    for (k <- 1 to 5) {
      val scored = remaining.toSeq.map { c =>
        val ms = if (selected.isEmpty) 0.0
                 else selected.map(s => cos(vecs(c), vecs(s._2))).max
        (c, r6(0.5 * rel(c) - 0.5 * ms))
      }
      val (bc, bm) = scored.minBy { case (c, m) => (-m, c) }
      selected :+= ((k, bc, rel(bc), bm))
      remaining -= bc
    }
    val got = run("q203_mmr_diversify").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toVector
    assert(got == selected, s"\ngot    $got\nexpect $selected")
    // diversity must BIND on this corpus: the MMR selection differs
    // from plain top-5 relevance (otherwise the fixture is degenerate)
    val top5 = cand.take(5).map(_._1).toVector
    assert(got.map(_._2) != top5,
      s"MMR selected exactly the top-5 by relevance — penalty never bound: $top5")
  }

  test("q205 compaction: trigger fires on the gate corpus, movers conserve, dissolved cells vanish") {
    import spark.implicits._
    val rows = run("q205_ivf_compaction").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toVector
    // fixture health: >=1 cell dissolved, >=1 surviving, >=1 absorbed
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val nlist = math.ceil(math.sqrt(e.count().toDouble)).toLong
    assert(rows.size < nlist, s"no cell was dissolved (surviving=${rows.size}, nlist=$nlist)")
    assert(rows.nonEmpty && rows.map(_._3).sum > 0, "no vector was absorbed")
    // conservation: stayers + absorbed = all live (non-tombstoned) vectors
    val nLive = e.filter($"label" % 2 =!= 0).count()
    assert(rows.map(_._4).sum == nLive,
      s"post-compaction index does not hold exactly the live corpus: ${rows.map(_._4).sum} != $nLive")
    // every published row is internally consistent
    rows.foreach { case (_, b, a, t) => assert(b + a == t) }
  }

  test("q213 nlist dial: the f=1 row IS q168@np=3, volumes fall as cells shrink, every leg serves all queries") {
    val got = run("q213_ivf_nlist_budget").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toVector
    assert(got.map(_._1) == Vector(0.5, 1.0, 2.0))
    // finer cells => strictly fewer candidates at fixed np=3
    assert(got.map(_._3).forall(_ == 50L))
    assert(got.map(_._4).sliding(2).forall(p => p(0) > p(1)),
      s"candidate volume did not fall with nlist: $got")
    // the f=1 row replays q168's np=3 row exactly (same training,
    // same probes, same exact-cosine scoring)
    val q168 = run("q168_ivf_sqrtn_recall").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .find(_._1 == 3).get
    val f1 = got(1)
    assert((f1._2, f1._3, f1._4, f1._5, f1._6) ==
      (q168._2, q168._3, q168._4, q168._5, q168._6),
      s"\nf=1 leg $f1\nq168@3  $q168")
  }

  test("q214 compacted recall: monotone in np, queries are exactly the live probe set, candidates all live") {
    import spark.implicits._
    val got = run("q214_compacted_recall").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1).toVector
    assert(got.map(_._1) == Vector(1, 2, 3))
    // more probes can only add candidates and hits
    assert(got.map(_._3).sliding(2).forall(p => p(0) < p(1)))
    assert(got.map(_._4).sliding(2).forall(p => p(0) <= p(1)))
    assert(got.map(_._5).sliding(2).forall(p => p(0) <= p(1)))
    // the query population is exactly the LIVE (odd-label) vectors
    // among vec_id < 50 — tombstoned queries must not be served
    val nLiveQ = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" < 50 && $"label" % 2 =!= 0).count()
    assert(got.forall(_._2 == nLiveQ),
      s"query population ${got.map(_._2)} != live probe set $nLiveQ")
  }

  test("q204 serve from the parquet-round-tripped index equals q186's in-memory serve row-for-row") {
    val mem = run("q186_ivfpq_residual_recall").collect().map(_.toSeq).toVector
    val disk = run("q204_ivf_index_persist").collect().map(_.toSeq).toVector
    assert(disk == mem, s"\ndisk  $disk\nmem   $mem")
  }

  test("q215 media ANN serve: decoded features are exactly gray/255, curve monotone, nlist pins the sqrt(n) build") {
    import spark.implicits._
    // decode contract replayed off-engine: one synthesized grid PNG
    // decodes to EXACTLY the closed-form grays/255 (the float the
    // oracle recomputes) — the exactness q215's whole chain rests on
    val b = 3L; val variant = 1L
    val grays = Array.tabulate(64) { i0 =>
      val i = i0.toLong
      val ii = if (i == 1L) 0L else i
      (8L * ((b * 37 + ii * 11 + (ii * ii) % 7) % 32) +
        (if (variant == 1 && i == 0L) 3L else 0L)).toInt
    }
    val png = graft.multimodal.Multimodal.encodeGridPng(grays, g = 8, cellPx = 4)
    val feats = graft.multimodal.JvmImageCodec.luminanceGrid(png, 8)
    assert(feats.toSeq == grays.toSeq.map(g => (g / 255.0).toFloat),
      "decoded grid diverged from the closed-form grays/255")
    // the served curve: 3 probe levels, candidates strictly grow,
    // hits/recall never fall, every query served
    val got = run("q215_media_ann_serve").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toVector
    assert(got.map(_._1) == Vector(1, 2, 3))
    val fam = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" % 5 === 0).count()
    assert(got.forall(_._2 == math.ceil(math.sqrt(fam.toDouble)).toLong),
      s"nlist is not ceil(sqrt(${fam}))")
    assert(got.forall(_._3 == math.min(50L, fam)))
    assert(got.map(_._4).sliding(2).forall(p => p(0) < p(1)))
    assert(got.map(_._5).sliding(2).forall(p => p(0) <= p(1)))
    assert(got.map(_._6).forall(r => r >= 0.0 && r <= 1.0))
    assert(got.map(_._6).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("q217 layered media serve: the rep bill collapses the clone bill, fan-out conserves corpus mass") {
    import spark.implicits._
    val layered = run("q217_media_layered_serve").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toVector
    val flat = run("q215_media_ann_serve").collect()
      .map(r => (r.getInt(0), r.getLong(3))).toMap // np -> candidates
    assert(layered.map(_._1) == Vector(1, 2, 3))
    // the layering claim, measured in-gate: the engine's candidate
    // bill over reps is strictly below the clone-heavy flat bill at
    // every probe level, while the EFFECTIVE candidates (corpus mass
    // represented) at least match it
    layered.foreach { case (np, _, _, repC, effC, _, _) =>
      assert(repC < flat(np),
        s"np=$np: rep bill $repC did not beat the flat bill ${flat(np)}")
      assert(effC >= repC)
    }
    // the index is sized by the DISTINCT corpus: nlist = ceil(sqrt(#reps)),
    // and all 50 probe queries are served
    val fam = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" % 5 === 0).count()
    assert(layered.forall(_._3 == math.min(50L, fam)))
    // 64 distinct patterns by construction (b mod 32 x variant)
    assert(layered.forall(_._2 == math.ceil(math.sqrt(64.0)).toLong))
    // curve sanity: candidates strictly grow with np, recall never falls
    assert(layered.map(_._4).sliding(2).forall(p => p(0) < p(1)))
    assert(layered.map(_._7).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("q219 graph-ANN beam search: monotone convergence, bounded per-round bill, recall floor") {
    val rows = run("q219_nsw_graph_recall").orderBy("round").collect()
    assert(rows.length == 6, s"expected 6 beam rounds, got ${rows.length}")
    assert(rows.map(_.getAs[Int]("round")).toSeq == (1 to 6))
    val nq = rows.head.getAs[Long]("n_queries")
    val beam = rows.head.getAs[Int]("beam")
    val deg = rows.head.getAs[Int]("degree")
    val scored = rows.map(_.getAs[Long]("scored")).toSeq
    val hits = rows.map(_.getAs[Long]("hits")).toSeq
    // the visited set only grows, and hits with it (cumulative top-5
    // over a growing set can only gain exact-truth members: a true
    // neighbor once visited is never evicted by a lower cosine)
    assert(scored.sliding(2).forall(p => p(0) < p(1)),
      s"visited must grow every round: $scored")
    assert(hits.sliding(2).forall(p => p(0) <= p(1)), s"hits regressed: $hits")
    // the serve bill is bounded BY CONSTRUCTION: the entry seed is
    // ≤ 2 cells × 4 anchors = 8 nodes per query, and every round
    // (including round 1) expands ≤ beam nodes of adjacency ≤ 2·deg
    assert(scored.head <= nq * (8 + beam * 2L * deg),
      s"round-1 bill ${scored.head} exceeds the entry+beam bound")
    scored.sliding(2).foreach { p =>
      assert(p(1) - p(0) <= nq * beam * 2L * deg,
        s"round growth ${p(1) - p(0)} exceeds the beam×degree bound") }
    val recall = rows.last.getAs[Double]("recall_at_5")
    assert(recall >= 0.8, s"round-6 recall $recall below the 0.8 floor")
  }

  test("q222 tombstone serve: routing identical to q219, dead work counted, live recall floor") {
    val live = run("q222_nsw_tombstone_serve").orderBy("round").collect()
    val full = run("q219_nsw_graph_recall").orderBy("round").collect()
    assert(live.length == 6 && full.length == 6)
    // delete-in-place semantics: the traversal must be UNCHANGED by
    // tombstones — same visited-set size every round as the
    // tombstone-free serve (deleted nodes keep routing)
    live.zip(full).foreach { case (l, f) =>
      assert(l.getAs[Long]("scored") == f.getAs[Long]("scored"),
        s"round ${l.getAs[Int]("round")}: tombstones perturbed routing") }
    // the dead-routing bill is real, monotone, and a strict subset
    val dead = live.map(_.getAs[Long]("dead_scored")).toSeq
    assert(dead.sliding(2).forall(p => p(0) <= p(1)))
    live.foreach { r =>
      val (d, sc) = (r.getAs[Long]("dead_scored"), r.getAs[Long]("scored"))
      assert(d > 0 && d < sc, s"dead bill $d out of (0, $sc)") }
    // live recall converges like the full serve (floor shared with q219)
    assert(live.last.getAs[Double]("recall_at_5") >= 0.8)
    assert(live.map(_.getAs[Long]("hits")).toSeq.sliding(2).forall(p => p(0) <= p(1)))
  }

  test("q224 compacted rebuild: smaller live-only bill, monotone convergence, high-coverage recall") {
    val rebuilt = run("q224_nsw_compacted_recall").orderBy("round").collect()
    val inPlace = run("q222_nsw_tombstone_serve").orderBy("round").collect()
    assert(rebuilt.length == 6)
    val scored = rebuilt.map(_.getAs[Long]("scored")).toSeq
    val hits = rebuilt.map(_.getAs[Long]("hits")).toSeq
    assert(scored.sliding(2).forall(p => p(0) < p(1)))
    assert(hits.sliding(2).forall(p => p(0) <= p(1)))
    // the rebuilt index's candidate space is live-only — at this SF
    // (serve budget covers most of the 250-node live corpus) the
    // rebuild serves a strictly smaller bill than routing through
    // tombstones, at equal-or-better live recall
    assert(rebuilt.last.getAs[Long]("scored") < inPlace.last.getAs[Long]("scored"),
      "rebuild should shed bill at high coverage")
    assert(rebuilt.last.getAs[Double]("recall_at_5") >= 0.9,
      s"high-coverage rebuilt recall ${rebuilt.last.getAs[Double]("recall_at_5")}")
  }

  test("q220 epoch pipeline: index-mined negatives match brute mining, shards follow the md5 contract") {
    val rows = run("q220_media_epoch_pipeline").collect()
    assert(rows.length == 150, s"expected 50 anchors x 3 negatives, got ${rows.length}")
    val byAnchor = rows.groupBy(_.getAs[Long]("anchor_id"))
    assert(byAnchor.size == 50)
    byAnchor.foreach { case (aid, rs) =>
      assert(rs.map(_.getAs[Int]("neg_rank")).sorted.toSeq == Seq(1, 2, 3))
      // the engineered hamming-1 variant must surface as the hardest
      // negative THROUGH the index (np=3 probes) exactly as q218's
      // brute rep scan finds it
      val pos = rs.head.getAs[Long]("pos_rep")
      val r1 = rs.find(_.getAs[Int]("neg_rank") == 1).get.getAs[Long]("neg_rep")
      assert(r1 == (pos ^ 1L), s"anchor $aid: rank-1 negative $r1 != variant ${pos ^ 1L}")
      assert(rs.forall(_.getAs[Long]("excluded_copies") >= 0))
    }
    // index mining at np=3 loses nothing vs q218's brute mining on
    // this corpus: identical (anchor, rank) -> negative assignments
    val brute = run("q218_contrastive_mining").collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Int]("neg_rank")) ->
        r.getAs[Long]("neg_rep")).toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("anchor_id"), r.getAs[Int]("neg_rank"))
      assert(brute(k) == r.getAs[Long]("neg_rep"),
        s"index-mined negative diverges from brute at $k")
    }
    // shard + order contract, recomputed independently: shard = first
    // 2 md5 hex digits of the anchor id (as a string) mod 4; positions
    // are dense 1..n within a shard, ordered by (mix key, anchor, rank)
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(x.getBytes)
        .map("%02x".format(_)).mkString
    rows.foreach { r =>
      val h = md5hex(r.getAs[Long]("anchor_id").toString)
      assert(r.getAs[Int]("shard") == Integer.parseInt(h.take(2), 16) % 4)
    }
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (sh, rs) =>
      val sorted = rs.sortBy(r => (md5hex(r.getAs[Long]("anchor_id").toString).slice(2, 10),
        r.getAs[Long]("anchor_id"), r.getAs[Int]("neg_rank")))
      assert(sorted.map(_.getAs[Int]("pos_in_shard")).toSeq == (1 to rs.length),
        s"shard $sh positions not dense in mix order")
    }
  }

  test("q218 contrastive mining: variant is the hardest negative, own pattern never leaks, exclusion counts clones") {
    import spark.implicits._
    val got = run("q218_contrastive_mining").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getDouble(5))).toVector
    // 50 anchors x top-3 negatives
    assert(got.map(_._1).distinct.size == 50 && got.size == 150)
    // the positive's pattern never appears in its own negative pool
    assert(got.forall(t => t._5 != t._2), "own rep leaked into negatives")
    // rep of pattern (B, v) is vec_id 2B + v, so the anchor's
    // engineered hamming-1 variant rep is pos_rep with the low bit
    // flipped — it must be the #1 hard negative for EVERY anchor
    // (cosine within ~1e-4 of 1, far above any other pattern)
    got.filter(_._4 == 1).foreach { case (aid, pos, _, _, neg, cos) =>
      assert(neg == (pos ^ 1L), s"anchor $aid: hardest negative $neg != variant ${pos ^ 1L}")
      assert(cos > 0.99, s"anchor $aid: variant cosine $cos unexpectedly low")
    }
    // false-negative exclusion counts the anchor's clone family
    // (copies - 1), recomputed independently from the params
    val fam = spark.read.parquet(s"$dir/documents.parquet")
      .filter($"doc_id" % 5 === 0)
      .selectExpr("(doc_id div 5) AS vid").collect().map(_.getLong(0))
    val copies = fam.groupBy(v => ((v / 2) % 32, v % 2)).map { case (k, vs) => k -> vs.size }
    got.filter(_._4 == 1).foreach { case (aid, _, excl, _, _, _) =>
      val k = ((aid / 2) % 32, aid % 2)
      assert(excl == copies(k) - 1, s"anchor $aid: excluded $excl != ${copies(k) - 1}")
    }
    // negatives are ranked: cosine non-increasing within each anchor
    got.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._4).map(_._6)
      assert(byRank.sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("the shared recall-by-nprobe tail counts levels, ties and the top-5 cut exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // (qid, cid, probe_rank, cosr): query 1 has candidates at all three
    // probe ranks, query 2 at ranks 1 and 3, query 3 only at rank 2
    val cand = Seq(
      (1L, 10L, 1, 0.9), (1L, 11L, 1, 0.8),
      (1L, 12L, 2, 0.95), (1L, 13L, 2, 0.1),
      (1L, 14L, 3, 0.5), (1L, 15L, 3, 0.5), (1L, 16L, 3, 0.5),
      (2L, 20L, 1, 0.7), (2L, 21L, 3, 0.99),
      (3L, 30L, 2, 0.6)
    ).toDF("qid", "cid", "probe_rank", "cosr")
    // 16 is true but ties 14/15 at 0.5 and loses the cid tiebreak for
    // query 1's fifth slot at np = 3; 99 and 31 are never candidates
    val exact = Seq((1L, 10L), (1L, 12L), (1L, 14L), (1L, 16L), (1L, 99L),
      (2L, 21L), (3L, 30L), (3L, 31L)).toDF("eqid", "ecid")
    val out = graft.operators.Similarity.nprobeRecall(cand, exact,
      lead = Seq(lit(7L).as("nlist")))
    assert(out.columns.toSeq ==
      Seq("nprobe", "nlist", "n_queries", "candidates", "hits", "recall_at_5"))
    val got = out.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      (1, 7L, 2L, 3L, 1L, 0.1),       // q1 {10, 11}, q2 {20}: hit 10
      (2, 7L, 3L, 6L, 3L, 0.2),       // + q1 {12, 13}, q3 {30}: hits 10, 12, 30
      (3, 7L, 3L, 10L, 5L, 0.333333)  // q1 top-5 12, 10, 11, 14, 15: hits 12, 10, 14; + 21, 30
    ), got)
  }
}
