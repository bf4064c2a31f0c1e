package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestSession}

/** Smoke + targeted behavior for the query surface at sf0.001. The full
  * value-level correctness gate is the DuckDB oracle (tools/check_oracle.py
  * locally, the driver's CORRECTNESS_r{N} in CI).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // queries that may legitimately return zero rows at tiny scale
  private val mayBeEmpty = Set("q_embed_neardup", "q_spatial_join")

  test("ann ivf: probed rerank reaches good top-1 agreement with brute force") {
    val brute = Similarity.qAnnTopk(spark, dir).collect()
      .collect { case r if r.getInt(3) == 1 => r.getLong(0) -> r.getLong(1) }.toMap
    val ivf = Similarity.qAnnIvf(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(ivf.nonEmpty)
    val hit = brute.count { case (a, b) => ivf.contains((a, b)) }
    val recall = hit.toDouble / brute.size
    assert(recall >= 0.5, s"ivf top-1 recall $recall ($hit/${brute.size})")
  }

  test("ann ivf+sq8 hybrid: neighbor lists are well-formed and the " +
    "refine stage finds the brute-force top-1 in most probed lists") {
    val rows = Similarity.qAnnIvfSq8(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (a, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to rs.length).toSeq,
        s"anchor $a: ranks not contiguous")
      // exact-refined cosines are non-increasing down the list, ties by id
      sorted.sliding(2).foreach {
        case Array((_, b1, _, c1), (_, b2, _, c2)) =>
          assert(c1 > c2 || (c1 == c2 && b1 < b2),
            s"anchor $a: refine order broken at $b1/$b2")
        case _ =>
      }
    }
    val brute = Similarity.qAnnTopk(spark, dir).collect()
      .collect { case r if r.getInt(3) == 1 => r.getLong(0) -> r.getLong(1) }
      .toMap
    val hybrid = rows.map(r => ((r._1, r._2), r._3)).toMap
    val hit = brute.count { case (a, b) => hybrid.contains((a, b)) }
    val recall = hit.toDouble / brute.size
    assert(recall >= 0.5, s"hybrid top-1 recall $recall ($hit/${brute.size})")
  }

  test("every registered query executes and has rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val n = df.count()
      assert(n >= 0, name)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
      assert(df.columns.nonEmpty, name)
    }
  }

  test("cc star contraction equals min-label propagation cluster-for-cluster") {
    val star = Dedup.qDedupCcStar(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val prop = Dedup.qDedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(star.nonEmpty)
    assert(star.toSeq == prop.toSeq)
  }

  test("canonical per cluster: keep rule is (max n_chars, min id) over a " +
    "local union-find of the exact pair set") {
    val rows = Dedup.qDedupCanonical(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val shing = docs.map { case (id, t, _) => id -> t.split(" ", -1) }
      .filter(_._2.length >= 3)
      .map { case (id, ws) => id -> ws.sliding(3).map(_.mkString(" ")).toSet }
    val pairs = for {
      (a, sa) <- shing; (b, sb) <- shing if a < b
      i = (sa & sb).size if i * 1.0 / (sa.size + sb.size - i) >= 0.8
    } yield (a, b)
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nchars = docs.map(d => d._1 -> d._3).toMap
    val local = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).map { case (cid, ms) =>
        val keep = ms.minBy(id => (-nchars(id), id))
        (cid, ms.length.toLong, keep, nchars(keep),
          ms.sorted.filter(_ != keep).mkString(","))
      }.toSeq.sortBy(_._1)
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
  }

  test("grouped heavy hitters: every language certifies its sketch — " +
    "one guaranteed key, found, zero bound violations; exact totals " +
    "match a local recount") {
    val rows = TextAnalysis.qHeavyHittersGrouped(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val docs = Tables.documents(spark, dir)
      .select("lang", "text", "doc_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == docs.map(_._1).distinct.sorted.toSeq)
    rows.foreach { case (lang, k, _, nd, g, gf, v) =>
      assert(k == 16, lang)
      assert(nd > k, s"$lang: sketch must actually trim (nd=$nd)")
      assert(g == 1, s"$lang: exactly one guaranteed key expected, got $g")
      assert(gf == g, s"$lang: guaranteed key lost by the summary")
      assert(v == 0, s"$lang: $v bound violations")
    }
    val stops = Set("the", "a", "of", "and", "to")
    val local = docs.flatMap { case (lang, text, id) =>
      text.split(" ", -1).map { w =>
        lang -> (if (stops(w)) "stopword" else s"${w}_${id % 7}")
      }
    }
    val nw = local.groupBy(_._1).map { case (l, xs) => l -> xs.length.toLong }
    val ndl = local.distinct.groupBy(_._1)
      .map { case (l, xs) => l -> xs.length.toLong }
    rows.foreach { case (lang, _, n, nd, _, _, _) =>
      assert(n == nw(lang), s"$lang: n_words $n vs local ${nw(lang)}")
      assert(nd == ndl(lang), s"$lang: n_distinct $nd vs local ${ndl(lang)}")
    }
  }

  test("boilerplate removal: df-thresholded chunks equal a local " +
    "reference; untouched documents reconstruct to their original text") {
    val rows = TextAnalysis.qTextBoilerplate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length == docs.length)
    val chunked = docs.map { case (id, t) =>
      id -> t.split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq
    }
    val dfc = chunked.flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.length }
    val boiler = dfc.filter(_._2 >= 2).keySet
    val byId = docs.toMap
    var removedSomewhere = false
    rows.foreach { case (id, nc, nr, cleaned) =>
      val cs = chunked.toMap.apply(id)
      assert(nc == cs.length, s"doc $id chunk count")
      val kept = cs.filterNot(boiler)
      assert(nr == (cs.length - kept.length).toLong, s"doc $id removed count")
      assert(cleaned == kept.mkString(" "), s"doc $id reconstruction")
      if (nr > 0) removedSomewhere = true
      if (nr == 0) assert(cleaned == byId(id),
        s"doc $id: untouched doc must reconstruct verbatim")
    }
    assert(removedSomewhere, "corpus must exercise the removal path")
  }

  test("postings: df/cf and head-20 posting lists equal a local inverted " +
    "index") {
    val rows = TextAnalysis.qTextPostings(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tf = collection.mutable.Map.empty[(String, Long), Long]
    docs.foreach { case (id, t) =>
      t.split(" ", -1).foreach(w => tf((w, id)) = tf.getOrElse((w, id), 0L) + 1)
    }
    val local = tf.toSeq.groupBy(_._1._1).map { case (w, xs) =>
      val posts = xs.map { case ((_, id), c) => (id, c) }.sortBy(_._1)
      (w, xs.length.toLong, xs.map(_._2).sum,
        posts.take(20).map { case (id, c) => s"$id:$c" }.mkString(" "))
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq == local, s"engine ${rows.length} vs local ${local.length}")
    assert(rows.exists(_._2 > 20), "some token must overflow the head slice")
  }

  test("pmi: top-30 collocations equal a local reference; every emitted " +
    "pmi sits safely off its 6-dp rounding boundary") {
    val rows = TextAnalysis.qTextPmi(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 30)
    val texts = Tables.documents(spark, dir).select("text").collect()
      .map(_.getString(0).split(" ", -1))
    val uni = collection.mutable.Map.empty[String, Long]
    val bi = collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { ws =>
      ws.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      ws.sliding(2).filter(_.length == 2).foreach { p =>
        bi((p(0), p(1))) = bi.getOrElse((p(0), p(1)), 0L) + 1
      }
    }
    val nu = uni.values.sum
    val np = bi.values.sum
    def rawPmi(w1: String, w2: String, cab: Long): Double =
      math.log((cab * nu * nu).toDouble / (np * uni(w1) * uni(w2)).toDouble)
    val local = bi.toSeq.filter(_._2 >= 5).map { case ((a, b), c) =>
      (a, b, c, BigDecimal(rawPmi(a, b, c))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (a, b, _, p) => (-p, a, b) }.take(30)
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    // margin audit: no raw pmi is within 1e-9 of a x.xxxxxx5 boundary,
    // so JVM-vs-libm ln ULP differences cannot flip any rounding
    bi.toSeq.filter(_._2 >= 5).foreach { case ((a, b), c) =>
      val x = rawPmi(a, b, c) * 1e6
      val frac = math.abs(x - math.floor(x) - 0.5)
      assert(frac > 1e-9, s"pair ($a,$b): pmi $x too close to a boundary")
    }
  }

  test("quality normalize: fixed-point group ranks are pure integers and " +
    "each language keeps its top ~30%") {
    val rows = TextAnalysis.qQualityNormalize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == docs.length)
    val byLang = docs.groupBy(_._2)
    val local = byLang.toSeq.flatMap { case (lang, ds) =>
      val ordered = ds.sortBy(d => (d._3, d._1)).zipWithIndex
      val nl = ds.length.toLong
      ordered.map { case ((id, _, nc), i) =>
        val pr6 = i.toLong * 1000000 / (nl - 1)
        (id, lang, nc, i.toLong + 1, pr6,
          math.min(9L, i.toLong * 10 / (nl - 1)),
          if (pr6 >= 700000) 1L else 0L)
      }
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq == local)
    byLang.keys.foreach { lang =>
      val grp = rows.filter(_._2 == lang)
      val frac = grp.count(_._7 == 1).toDouble / grp.length
      assert(math.abs(frac - 0.3) < 0.02,
        s"$lang keeps $frac — normalization must equalize keep rates")
    }
  }

  test("k-core: engine fixpoint equals a local peel; peeling removed a " +
    "real fringe and every survivor meets the degree bar") {
    val rows = GraphOps.qGraphKcore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val small = Tables.part(spark, dir).where("p_size <= 10")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(t => small(t._2)).distinct
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    li.groupBy(_._1).values.foreach { ps =>
      val s = ps.map(_._2).distinct
      for (a <- s; b <- s if a != b)
        adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
    }
    var alive = adj.keySet.toSet
    var changed = true
    while (changed) {
      val next = alive.filter(n => (adj(n) & alive).size >= 15)
      changed = next != alive
      alive = next
    }
    val local = alive.toSeq.map { n =>
      (n, (adj(n) & alive).size.toLong, adj(n).size.toLong)
    }.sortBy(_._1)
    assert(rows.toSeq == local, s"engine ${rows.length} vs local ${local.length}")
    assert(rows.length < adj.size, "peeling must remove a real fringe")
    rows.foreach { case (n, cd, d0) =>
      assert(cd >= 15, s"survivor $n below the core bar")
      assert(d0 >= cd, s"node $n core degree exceeds original")
    }
  }

  test("attribution: first-touch credits equal a local sessionization " +
    "and every purchase is attributed") {
    val rows = EventOps.qEventsAttribution(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "event_type", "value",
        "unix_micros(ts) as eu").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val credits = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e._5, e._2))
      var opener = ""
      var prev = Long.MinValue
      sorted.flatMap { case (_, _, tpe, v, eu) =>
        if (prev == Long.MinValue || eu - prev >= 600000000L) opener = tpe
        prev = eu
        if (tpe == "purchase") Some(opener -> v) else None
      }
    }
    val local = credits.groupBy(_._1).map { case (ft, xs) =>
      ft -> (xs.length.toLong, xs.map(_._2).sum)
    }
    assert(rows.map(_._1).toSeq == local.keys.toSeq.sorted)
    rows.foreach { case (ft, n, nu, rev) =>
      assert(n == local(ft)._1, s"$ft: conversions $n vs ${local(ft)._1}")
      assert(nu >= 1 && nu <= n, s"$ft: user count out of range")
      assert(math.abs(rev - local(ft)._2) < 1e-6, s"$ft: revenue drift")
    }
    assert(rows.map(_._2).sum == ev.count(_._3 == "purchase"),
      "every purchase must be attributed exactly once")
  }

  test("vocab growth: the Heaps curve equals a local recompute, is " +
    "monotone, and keeps yielding new types past the first decile") {
    val rows = TextAnalysis.qVocabGrowth(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10)
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val nd = docs.length
    val shingles = docs.filter(_._2.length >= 3).flatMap { case (id, ws) =>
      ws.sliding(3).map(g => (id * 10 / nd, g.mkString(" ")))
    }
    val tokByDec = shingles.groupBy(_._1).map { case (d, xs) => d -> xs.length.toLong }
    val firstDec = shingles.groupBy(_._2).map { case (_, xs) => xs.map(_._1).min }
    val nvByDec = firstDec.groupBy(identity).map { case (d, xs) => d -> xs.size.toLong }
    var (ct, cy) = (0L, 0L)
    val local = (0L to 9L).map { d =>
      ct += tokByDec.getOrElse(d, 0L); cy += nvByDec.getOrElse(d, 0L)
      (d + 1, ct, cy, cy * 1000000 / ct)
    }
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    // monotone cumulative, and the corpus still yields new types late
    assert(rows.last._3 > rows.head._3,
      "no vocabulary growth after decile 1 — curve is degenerate")
    assert(rows.map(_._4).sliding(2).forall(p => p(0) >= p(1)),
      "type/token ratio must be non-increasing (Heaps sublinearity)")
  }

  test("market basket: top-5 recommendations per part equal a local " +
    "association miner on pure integer keys") {
    val rows = GraphOps.qMarketBasket(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    assert(rows.nonEmpty)
    val small = Tables.part(spark, dir).where("p_size <= 10")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(t => small(t._2)).distinct
    val n = li.map(_._1).distinct.length.toLong
    val cnt = li.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val pairs = li.groupBy(_._1).values.toSeq.flatMap { ps =>
      val s = ps.map(_._2).distinct.toSeq
      for (a <- s; b <- s if a != b) yield (a, b)
    }.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }
    val local = pairs.groupBy(_._1).toSeq.flatMap { case (pa, xs) =>
      xs.toSeq.map { case (_, pb, cab) =>
        (pa, pb, cab, cab * 1000000 / cnt(pa),
          cab * n * 1000000 / (cnt(pa) * cnt(pb)))
      }.sortBy { case (_, pb, cab, _, l6) => (-l6, -cab, pb) }
        .take(5).zipWithIndex
        .map { case ((a, b, c, cf, l6), i) => (a, b, c, cf, l6, i + 1) }
    }.sortBy(t => (t._1, t._6))
    assert(rows.toSeq == local, s"engine ${rows.length} vs local ${local.length}")
  }

  test("engagement: per-channel session metrics equal a local " +
    "sessionization; all rates are exact integers in range") {
    val rows = EventOps.qEventsEngagement(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) as eu")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val sessions = ev.groupBy(_._1).values.toSeq.flatMap { es =>
      val sorted = es.sortBy(e => (e._4, e._2))
      val buf = collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      var opener = ""; var len = 0L; var start = 0L; var last = 0L
      var prev = Long.MinValue
      sorted.foreach { case (_, _, tpe, eu) =>
        if (prev == Long.MinValue || eu - prev >= 600000000L) {
          if (len > 0) buf += ((opener, len, last - start))
          opener = tpe; len = 0; start = eu
        }
        len += 1; last = eu; prev = eu
      }
      if (len > 0) buf += ((opener, len, last - start))
      buf
    }
    val local = sessions.groupBy(_._1).toSeq.map { case (op, ss) =>
      val ns = ss.length.toLong
      val nb = ss.count(_._2 == 1).toLong
      val nev = ss.map(_._2).sum
      val dw = ss.map(_._3).sum
      (op, ns, nb, nb * 1000000 / ns, nev * 1000000 / ns, dw / ns)
    }.sortBy(_._1)
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    rows.foreach { case (op, ns, nb, b6, _, _) =>
      assert(nb <= ns && b6 >= 0 && b6 <= 1000000, s"$op rates out of range")
    }
    assert(rows.map(_._2).sum == sessions.length,
      "session totals must cover every session exactly once")
  }

  test("centroid eval: per-label accuracy equals a local integer " +
    "recompute; every argmax margin dwarfs double-division noise") {
    val rows = Similarity.qEmbedCentroidEval(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0 to 9))
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(round(cast(x AS DOUBLE) * 1000) AS BIGINT)) q")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2).toArray))
    val byLabel = vecs.groupBy(_._2)
    val cent = byLabel.map { case (l, vs) =>
      l -> ((0 until 64).map(i => vs.map(_._3(i)).sum).toArray, vs.length.toLong)
    }
    var minGap = Double.MaxValue
    val preds = vecs.map { case (id, l, q) =>
      val scored = cent.toSeq.map { case (cl, (c, den)) =>
        val s = (0 until 64).map(i => q(i) * c(i)).sum
        (s.toDouble / den, cl)
      }.sortBy { case (r, cl) => (-r, cl) }
      minGap = math.min(minGap, scored(0)._1 - scored(1)._1)
      (id, l, scored.head._2)
    }
    val local = preds.groupBy(_._2).toSeq.map { case (l, xs) =>
      val nc = xs.count(p => p._3 == p._2).toLong
      (l, xs.length.toLong, nc, nc * 1000000 / xs.length)
    }.sortBy(_._1)
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    // double division on exact rationals carries ~ulp error (~1e-9 at
    // these magnitudes); the argmax is safe iff gaps dwarf that
    assert(minGap > 1e-4, s"argmax margin $minGap too small for float safety")
  }

  test("bucketed join: rollup equals the unbucketed join of the source " +
    "tables — the bucketed layout byte-preserves the data") {
    val bucketed = Relational.qJoinBucketed(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val plain = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        org.apache.spark.sql.functions.expr("o_orderkey = l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_items"),
        org.apache.spark.sql.functions.sum("l_quantity").as("sum_qty"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.expr(
            "sum(l_extendedprice * (1.0 - l_discount))"), 2).as("revenue"))
      .orderBy("o_orderpriority")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(bucketed.nonEmpty)
    assert(bucketed.toSeq == plain.toSeq,
      s"bucketed ${bucketed.toSeq} vs plain ${plain.toSeq}")
  }

  test("streaks: longest consecutive-day runs equal a local " +
    "gaps-and-islands and real multi-day streaks exist") {
    val rows = EventOps.qEventsStreaks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val days = Tables.events(spark, dir)
      .filter("event_type = 'purchase'")
      .selectExpr("user_id", "datediff(to_date(ts), '1970-01-01') dd")
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val local = days.groupBy(_._1).map { case (u, ds) =>
      val sorted = ds.map(_._2).sorted
      val runs = sorted.zipWithIndex.groupBy { case (d, i) => d - i }
        .values.map(_.length.toLong).toSeq
      (u, runs.max, runs.size.toLong, runs.sum)
    }.toSeq.sortBy(t => (-t._2, t._1)).take(20)
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    assert(rows.head._2 > 1, "corpus must contain a multi-day streak")
  }

  test("rrf: the fusion recomputes exactly from the two source rankings " +
    "and every fused doc comes from a source top-15") {
    val rows = TextModels.qTextRrf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(rows.length == 10)
    val bmRank = TextModels.qTextBm25(spark, dir).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (d, i) => d -> (i + 1) }.toMap
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS DOUBLE)) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val q = vecs.find(_._1 == 0).get._2
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val emRank = vecs.filter(_._1 != 0)
      .map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(15)
      .zipWithIndex.map { case ((d, _), i) => d -> (i + 1) }.toMap
    def rrf6(d: Long): Long = {
      val (n1, d1) = bmRank.get(d).map(r => (1L, 60L + r)).getOrElse((0L, 1L))
      val (n2, d2) = emRank.get(d).map(r => (1L, 60L + r)).getOrElse((0L, 1L))
      (n1 * d2 + n2 * d1) * 1000000 / (d1 * d2)
    }
    val expected = (bmRank.keySet ++ emRank.keySet).toSeq
      .map(d => (d, bmRank.getOrElse(d, 0), emRank.getOrElse(d, 0), rrf6(d)))
      .sortBy { case (d, _, _, s) => (-s, d) }.take(10)
    assert(rows.toSeq == expected, s"engine ${rows.toSeq} vs local $expected")
    rows.foreach { case (d, r1, r2, _) =>
      assert(r1 > 0 || r2 > 0, s"doc $d in neither source top-15")
    }
  }

  test("partitioned layout: the pruned week equals a direct recompute " +
    "on the original events — the layout round-trip loses nothing") {
    val rows = EventOps.qPartitionedLayout(spark, dir).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.length == 7, s"one row per day of the week: ${rows.toSeq}")
    assert(rows.map(_._1).toSeq ==
      (8 to 14).map(d => f"2024-01-$d%02d"))
    val plain = Tables.events(spark, dir)
      .selectExpr("date_format(ts, 'yyyy-MM-dd') dt", "user_id", "value")
      .where("dt >= '2024-01-08' and dt <= '2024-01-14'")
      .groupBy("dt")
      .agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.countDistinct("user_id").as("n_users"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum("value"), 2).as("total"))
      .orderBy("dt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.toSeq == plain.toSeq)
  }

  test("scd2: versions are contiguous, intervals chain, exactly one open " +
    "interval per key") {
    val rows = graft.cdc.CdcColumns.qCdcScd2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (id, vs) =>
      val sorted = vs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to vs.length).toSeq,
        s"id $id: versions not contiguous")
      // each interval's valid_to is the next version's tx (chained history)
      sorted.sliding(2).foreach {
        case Array((_, _, _, Some(to)), (_, _, nextTx, _)) =>
          assert(to == nextTx, s"id $id: interval chain broken")
        case _ =>
      }
      assert(sorted.count(_._4.isEmpty) == 1,
        s"id $id: exactly one open (current) interval expected")
    }
  }

  test("paragraph dedup: kept instances equal distinct chunk count, " +
    "ratios bounded") {
    import org.apache.spark.sql.functions._
    val out = Dedup.qDedupParagraph(spark, dir).collect()
    assert(out.nonEmpty)
    val kept = out.map(_.getLong(2)).sum
    val distinctChunks = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " ", -1))
      .withColumn("n", size(col("ws")))
      .withColumn("starts",
        expr("filter(sequence(0, greatest(0, n - 1), 10), s -> s < n)"))
      .select(posexplode(col("starts")).as(Seq("i", "start")), col("ws"))
      .select(md5(concat_ws(" ", expr("slice(ws, start + 1, 10)"))).as("m"))
      .distinct().count()
    assert(kept == distinctChunks,
      s"kept $kept != distinct chunks $distinctChunks")
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // n_kept <= n_chunks
      // 0.0 is legitimate: a document that is a full copy of an earlier
      // one keeps no chunks at all
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("stratified sampling: realized rates track the per-language " +
    "thresholds (zh keeps everything)") {
    val rows = TextSampling.qSampleStratified(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("de", "en", "es", "fr", "zh"))
    val (zhTotal, zhSampled) = rows("zh")
    assert(zhSampled == zhTotal, "zh threshold 'g0' must keep all docs")
    // binomial sanity at small n: es(10%) keeps fewer than en(80%)
    def rate(l: String) = { val (t, s) = rows(l); s.toDouble / t }
    assert(rate("es") < rate("en"))
  }

  test("queries and oracles are in lockstep (same key set, both ways)") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
    // a query WITHOUT an oracle silently downgrades the driver gate to a
    // rows-only check — every registered query must carry its oracle
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without oracles: $unoracled")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("simhash: perfect precision (verified pairs ⊆ exact set) and recall " +
    "within its blocking envelope") {
    val mh = Dedup.qDedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet // oracle-exact pair set
    val sh = Dedup.qDedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.nonEmpty && sh.nonEmpty)
    // 16-bit-word symmetric multiprobe (hamming ≤ 11 guarantee) + exact
    // verify: the simhash pair set EQUALS the exact near-dup set here
    assert(sh == mh, s"simhash != exact: missing=${mh -- sh} extra=${sh -- mh}")
    // envelope guard: every true pair must stay inside the blocking
    // guarantee (min word-hamming ≤ 2 over the four 16-bit words) — if
    // the corpus ever drifts past it, this fails before the oracle does
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ", -1)) >= 3)
      .select(col("doc_id"), Dedup.wordShingles(col("text")).as("sh"))
    val sigs = docs.select(col("doc_id"),
      graft.functions.Sketches.simhash64(col("sh")).as("simhash"))
    val maxMinWordH = Dedup.qDedupMinhash(spark, dir)
      .select(col("d1"), col("d2"))
      .join(sigs.select(col("doc_id").as("d1"), col("simhash").as("s1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("simhash").as("s2")), "d2")
      .withColumn("min_word_h", least((0 until 4).map { w =>
        expr(s"bit_count((shiftright(s1, ${16 * w}) ^ shiftright(s2, ${16 * w})) & 65535)")
      }: _*))
      .agg(max(col("min_word_h"))).collect()(0).getInt(0)
    assert(maxMinWordH <= 2,
      s"true pair outside blocking envelope: min word-hamming $maxMinWordH > 2")
  }

  test("ann lsh candidates agree with brute force on shared pairs and " +
    "achieve top-1 recall at sf0.001") {
    val brute = Similarity.qAnnTopk(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(3), r.getDouble(4)))).toMap
    val lsh = Similarity.qAnnLsh(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    assert(lsh.nonEmpty)
    // cosine values agree wherever both computed the pair
    lsh.foreach { case (pair, cos) =>
      brute.get(pair).foreach { case (_, bcos) => assert(cos == bcos, pair) }
    }
    // recall of the true top-1 neighbor across anchors
    val top1 = brute.collect { case ((a, b), (1, _)) => a -> b }.toMap
    val lshPairs = lsh.map(_._1).toSet
    val hit = top1.count { case (a, b) => lshPairs.contains((a, b)) }
    val recall = hit.toDouble / top1.size
    assert(recall >= 0.3, s"top-1 recall $recall too low (${hit}/${top1.size})")
  }

  test("ann quantized: int8 cut + exact refine reaches near-perfect " +
    "top-10 recall, cosines exact on emitted rows") {
    val brute = Similarity.qAnnTopk(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(3), r.getDouble(4)))).toMap
    val sq = Similarity.qAnnQuantized(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    assert(sq.nonEmpty)
    // refine step computes EXACT cosines — emitted values must equal brute
    sq.foreach { case (pair, cos) =>
      brute.get(pair).foreach { case (_, bcos) => assert(cos == bcos, pair) }
    }
    // top-10 recall: the int8 candidate cut keeps nearly all true top-10
    val hit = brute.keys.count(sq.map(_._1).toSet)
    val recall = hit.toDouble / brute.size
    assert(recall >= 0.9, s"sq8 top-10 recall $recall too low ($hit/${brute.size})")
  }

  test("ann pq: ADC cut + exact refine — emitted cosines exact, usable " +
    "top-10 recall from 4-byte codes") {
    val brute = Similarity.qAnnTopk(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(3), r.getDouble(4)))).toMap
    val pq = Similarity.qAnnPq(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    assert(pq.nonEmpty)
    // refine step computes EXACT cosines — emitted values must equal brute
    pq.foreach { case (pair, cos) =>
      brute.get(pair).foreach { case (_, bcos) => assert(cos == bcos, pair) }
    }
    // PQ at 8×4-bit codes is the lossiest family member: demand useful,
    // not near-perfect, recall from the 64x-compressed candidate cut
    val hit = brute.keys.count(pq.map(_._1).toSet)
    val recall = hit.toDouble / brute.size
    assert(recall >= 0.5, s"pq top-10 recall $recall too low ($hit/${brute.size})")
  }

  test("kmeans/ivf/kcenter: seeds survive a corpus MISSING its low ids " +
    "(init is first-k-by-id, never an id threshold)") {
    // A low-id block-drop perturbed sweep crashed all six centroid
    // consumers: `vec_id < k` seed sets emptied and the argmin's [0]
    // (or head()) threw. Replay that data shape end-to-end.
    val tmp = java.nio.file.Files.createTempDirectory("graft-lowid-drop")
    Seq("embeddings", "documents").foreach { t =>
      val full = Tables.table(spark, dir, t)
      // cap below the queries' fixed Anchors=50 so the anchor sets stay
      // nonempty if the fixture ever grows — the test must keep exercising
      // seed-init robustness, not anchor starvation
      val cut = (full.count() * 9 / 100).max(1).min(40)
      full.filter(col(if (t == "embeddings") "vec_id" else "doc_id") >= cut)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/$t.parquet")
    }
    Seq("q_ann_ivf", "q_ann_ivf_sq8", "q_ann_refresh", "q_cluster_kmeans",
      "q_cluster_profile", "q_sample_kcenter").foreach { q =>
      val out = SparkEntry.queries(q)(spark, tmp.toString).collect()
      assert(out.nonEmpty, s"$q returned no rows on a low-id-dropped corpus")
    }
  }

  test("kcenter: corpus smaller than k stops gracefully (matches the " +
    "oracle's recursion ending) instead of throwing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-tiny-corpus")
    Tables.embeddings(spark, dir).orderBy(col("vec_id")).limit(5)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val out = SparkEntry.queries("q_sample_kcenter")(spark, tmp.toString)
      .collect()
    assert(out.length == 5, s"expected 5 trajectory steps, got ${out.length}")
  }

  test("ann pq: recall survives a SPARSE-ID corpus (no id-contiguity " +
    "assumption in codebook init or ADC stride)") {
    // A perturbed-data sweep caught PQ recall collapsing when vec_ids
    // 0..15 weren't all present: the init codebook shrank below PqK and
    // the caller-supplied ADC stride misread the LUT. Replay that data
    // shape: drop every 7th id, re-run the certified contract.
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-sparse")
    Tables.embeddings(spark, dir).filter(col("vec_id") % 7 =!= 3)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val row = SparkEntry.queries("q_ann_pq")(spark, tmp.toString).collect()
    assert(row.length == 1)
    val r = row.head
    val nAnchors = r.getAs[Long]("n_anchors")
    assert(nAnchors > 0)
    assert(r.getAs[Long]("n_ge_floor") == nAnchors,
      s"per-anchor recall floor broken on sparse ids: $r")
    assert(r.getAs[Long]("mean_ge_spec") == 1L,
      s"mean recall spec broken on sparse ids: $r")
  }

  test("ann ivf: cosines agree with brute force on shared pairs; " +
    "probed rerank achieves top-1 recall") {
    val brute = Similarity.qAnnTopk(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(3), r.getDouble(4)))).toMap
    val ivf = Similarity.qAnnIvf(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    assert(ivf.nonEmpty)
    ivf.foreach { case (pair, cos) =>
      brute.get(pair).foreach { case (_, bcos) => assert(cos == bcos, pair) }
    }
    val top1 = brute.collect { case ((a, b), (1, _)) => a -> b }.toMap
    val ivfPairs = ivf.map(_._1).toSet
    val hit = top1.count { case (a, b) => ivfPairs.contains((a, b)) }
    val recall = hit.toDouble / top1.size
    assert(recall >= 0.5, s"ivf top-1 recall $recall too low ($hit/${top1.size})")
  }

  test("sketch surface: count-min, bloom filter, and approx_percentile " +
    "estimates stay within their error bounds") {
    import org.apache.spark.sql.functions.{col, expr}
    val e = graft.ops.Tables.events(spark, dir)

    // exact frequencies to judge against
    val exact = e.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum

    // count-min sketch: overestimates only, by at most eps*n (w.h.p.)
    val eps = 0.01
    val cms = e.stat.countMinSketch("event_type", eps = eps,
      confidence = 0.99, seed = 42)
    exact.foreach { case (k, c) =>
      val est = cms.estimateCount(k)
      assert(est >= c && est <= c + (eps * n).toLong + 1,
        s"cms($k)=$est outside [$c, ${c + (eps * n).toLong}]")
    }

    // bloom filter: no false negatives; fpp honored on absent keys
    val bloom = e.stat.bloomFilter("event_id", expectedNumItems = 20000,
      fpp = 0.01)
    val ids = e.select(col("event_id")).collect().map(_.getLong(0))
    assert(ids.forall(bloom.mightContain(_)), "bloom false negative")
    val absent = (1000000L until 1010000L).count(bloom.mightContain(_))
    assert(absent <= 300, s"bloom fpp too high: $absent/10000 false positives")

    // approx_percentile within the documented rank error vs the exact value
    val Array(approxP50, exactP50) = e.select(
      expr("approx_percentile(value, 0.5, 1000)"),
      expr("percentile(value, 0.5)")).collect().head
      .toSeq.map(_.toString.toDouble).toArray
    assert(math.abs(approxP50 - exactP50) / math.max(exactP50.abs, 1e-9) < 0.05,
      s"approx p50 $approxP50 vs exact $exactP50")
  }

  test("z-order layout: row-group stats prune the scan on BOTH clustered " +
    "dimensions; a plain sort only prunes its own") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, to_date}
    val sf01 = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf01/events.parquet").isFile)
    val ev = graft.ops.Tables.events(spark, sf01)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
    val total = ev.count()
    val base = java.nio.file.Files.createTempDirectory("graft-zorder")
      .toFile.getAbsolutePath

    graft.ops.Layout.zorderWrite(ev, "user_id", "d", s"$base/z", numFiles = 16)
    ev.repartitionByRange(16, col("user_id"))
      .sortWithinPartitions(col("user_id"))
      .write.parquet(s"$base/sorted")

    def scanned(df: DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numOutputRows").value
    }

    val zUser = scanned(spark.read.parquet(s"$base/z")
      .filter(col("user_id") === 7))
    val zDay = scanned(spark.read.parquet(s"$base/z")
      .filter(col("d") === "2024-01-05"))
    val sUser = scanned(spark.read.parquet(s"$base/sorted")
      .filter(col("user_id") === 7))
    val sDay = scanned(spark.read.parquet(s"$base/sorted")
      .filter(col("d") === "2024-01-05"))

    // z-order: both dimensions skip most row groups
    assert(zUser < total * 2 / 5, s"z user scan $zUser of $total")
    assert(zDay < total * 2 / 5, s"z day scan $zDay of $total")
    // single sort: its own column prunes hard, the other reads ~everything
    assert(sUser < total / 5, s"sorted user scan $sUser of $total")
    assert(sDay > total * 9 / 10,
      s"sorted layout should NOT prune the day dimension: $sDay of $total")
  }

  test("rankBucket: distributed quantile lookup — no Window in the plan, " +
    "monotone in the source column, full bucket range") {
    import org.apache.spark.sql.functions.col
    val ev = graft.ops.Tables.events(spark, dir).select(col("value"))
    val b = ev.withColumn("b", graft.ops.Layout.rankBucket(ev, "value"))
    // the old percent_rank spelling put ALL rows through one Window sort
    // task; the quantile+binary-search path must plan no Window at all
    assert(!b.queryExecution.executedPlan.toString.contains("Window"),
      "rankBucket plan contains a Window operator")
    val rows = b.orderBy(col("value")).collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(rows.sliding(2).forall { case Array(lo, hi) => lo._2 <= hi._2 },
      "bucket not monotone in value")
    val distinct = rows.map(_._2).distinct.length
    assert(distinct > 100, s"only $distinct distinct buckets")
  }

  test("winnow kernel: equals a declarative reference on real docs and " +
    "handles short strings, ties, and non-BMP code points") {
    import org.apache.spark.sql.functions._
    // declarative reference: the spelled-out hash → pack → window-min →
    // distinct → rollup pipeline the kernel replaces (and the oracle runs)
    def ref(s: String): Option[(Long, Long, Long, Long, Long)] = {
      val cps = s.codePoints().toArray
      val n = cps.length
      if (n < 8) return None
      val keys = (0 to n - 5).map { i =>
        val h = ((((cps(i).toLong * 131 + cps(i + 1)) * 131 + cps(i + 2)) * 131
          + cps(i + 3)) * 131 + cps(i + 4))
        h * 1048576L + (1048575L - i)
      }
      val sel = (0 to n - 8).map(i => keys.slice(i, i + 4).min).distinct
      val fps = sel.map(_ / 1048576L)
      Some(((n - 4).toLong, fps.length.toLong, fps.sum, fps.min, fps.max))
    }
    val cases = Seq(
      "", "abc", "1234567", // below the k+w-1 = 8 floor -> null
      "12345678", // exactly one complete window
      "aaaaaaaaaaaa", // all grams tie: rightmost-min discipline
      "ab" * 20, // periodic text: heavy fingerprint dedup
      "héllo wörld — ünïcode tëst", // non-ASCII BMP
      "a😀b😁cdefg😂hij" // non-BMP (emoji)
    )
    import spark.implicits._
    val out = cases.toDF("text")
      .select(col("text"),
        graft.functions.WinnowStats.winnowStats(col("text")).as("w"))
      .collect()
    out.foreach { r =>
      val expected = ref(r.getString(0))
      if (expected.isEmpty) assert(r.isNullAt(1),
        s"'${r.getString(0)}' must yield null (no complete window)")
      else {
        val w = r.getStruct(1)
        assert((w.getLong(0), w.getLong(1), w.getLong(2), w.getLong(3),
          w.getLong(4)) == expected.get, s"mismatch on '${r.getString(0)}'")
      }
    }
    // and on a real corpus slice, against the same reference
    Tables.documents(spark, dir).limit(100)
      .select(col("text"),
        graft.functions.WinnowStats.winnowStats(col("text")).as("w"))
      .where(col("w").isNotNull)
      .collect().foreach { r =>
        val e = ref(r.getString(0)).get
        val w = r.getStruct(1)
        assert((w.getLong(0), w.getLong(1), w.getLong(2), w.getLong(3),
          w.getLong(4)) == e)
      }
  }

  test("rolling hash expression matches a reference Scala fold and codegen runs") {
    import org.apache.spark.sql.functions._
    val df = Tables.documents(spark, dir).limit(50)
      .select(col("text"), graft.functions.RollingHash.rollingHash(col("text")).as("h"))
    df.collect().foreach { r =>
      val expected = graft.functions.RollingHash.hash(r.getString(0))
      assert(r.getLong(1) == expected)
    }
  }

  test("multimodal extractMeta plumbing: header decode over binary payloads") {
    import org.apache.spark.sql.functions._
    val src = Tables.documents(spark, dir).limit(20)
      .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("payload"))
    val out = Multimodal.extractMeta(src)
    assert(out.columns.toSeq ==
      Seq("id", "byte_len", "width", "height", "format", "frames"))
    val rows = out.collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val len = r.getLong(1)
      assert(len > 0)
      assert(r.getString(4) == "unknown") // text bytes are not an image
      assert(r.isNullAt(2) && r.isNullAt(3))
      assert(r.getSeq[Long](5).length == 4)
      assert(r.getSeq[Long](5)(1) == len / 4)
    }
  }

  private def hexBytes(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("image header parse: PNG IHDR, JPEG SOF walk, GIF LE16, corrupt → null") {
    import graft.functions.ImageHeader
    // PNG 640×480: big-endian u32 at offsets 16/20
    val png = hexBytes(
      "89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 0806000000")
    assert(ImageHeader.format(png).toString == "png")
    assert(ImageHeader.width(png) == 640 && ImageHeader.height(png) == 480)
    // JPEG 320×200 with APP0 + COM before SOF0 — fixed-offset readers fail
    val jpeg = hexBytes(
      "FFD8 FFE00010 4A46494600010100000100010000 FFFE0006 67726674" +
        " FFC00011 08 00C8 0140 03 011100 021101 031101 FFD9")
    assert(ImageHeader.format(jpeg).toString == "jpeg")
    assert(ImageHeader.width(jpeg) == 320 && ImageHeader.height(jpeg) == 200)
    // progressive JPEG (SOF2) is also a frame header
    val jpeg2 = hexBytes("FFD8 FFC20011 08 0010 0020 03 011100 021101 031101")
    assert(ImageHeader.width(jpeg2) == 32 && ImageHeader.height(jpeg2) == 16)
    // GIF 100×50: LITTLE-endian u16 at offsets 6/8
    val gif = hexBytes("474946383961 6400 3200 F70000")
    assert(ImageHeader.format(gif).toString == "gif")
    assert(ImageHeader.width(gif) == 100 && ImageHeader.height(gif) == 50)
    // corrupt/truncated inputs parse to null, never throw
    assert(ImageHeader.format("not an image".getBytes) == null)
    assert(ImageHeader.width(png.take(18)) == null) // truncated mid-IHDR
    assert(ImageHeader.width(hexBytes("FFD8 FFD9")) == null) // EOI before SOF
    assert(ImageHeader.width(hexBytes("FFD8 FFE00000")) == null) // bad seg len
    assert(ImageHeader.width(Array.empty[Byte]) == null)
  }

  test("wav header parse: chunk walk past LIST, LE fields, duration math") {
    import graft.functions.WavHeader
    // stereo 16-bit 8000 Hz, a LIST chunk BEFORE data (fixed offsets fail),
    // data = 16 bytes = 4 frames at block align 4 → 0 ms (4/8000 s)
    val wav = hexBytes(
      "52494646 3C000000 57415645" + // RIFF <size> WAVE
        " 4C495354 04000000 AABBCCDD" + // LIST chunk the walk must skip
        " 666D7420 10000000 0100 0200 401F0000 007D0000 0400 1000" +
        " 64617461 10000000 " + "00" * 16)
    assert(WavHeader.channels(wav) == 2)
    assert(WavHeader.sampleRate(wav) == 8000)
    assert(WavHeader.durationMs(wav) == 0L)
    // 8000 frames of mono 16-bit at 16 kHz = 500 ms
    val longWav = hexBytes(
      "52494646 00000000 57415645" +
        " 666D7420 10000000 0100 0100 803E0000 007D0000 0200 1000" +
        " 64617461 803E0000") // declared size 16000; payload absent is fine
    assert(WavHeader.channels(longWav) == 1)
    assert(WavHeader.sampleRate(longWav) == 16000)
    assert(WavHeader.durationMs(longWav) == 500L)
    // corrupt inputs parse to null, never throw
    assert(WavHeader.channels("RIFFxxxxNOPE".getBytes) == null)
    assert(WavHeader.channels(hexBytes("52494646 00000000 57415645")) == null)
    assert(WavHeader.durationMs(Array.empty[Byte]) == null)
    // HOSTILE 32-bit size fields (review finding): a chunk size near
    // Int.MaxValue used to wrap the Int walk index negative (AIOOBE at
    // b(-2147483644)) instead of the documented null — size LE F0FFFF7F
    // = 0x7FFFFFF0 as the FIRST chunk
    val hugeChunk = hexBytes(
      "52494646 3C000000 57415645 4C495354 F0FFFF7F")
    assert(WavHeader.channels(hugeChunk) == null)
    assert(WavHeader.pcmSamples(hugeChunk) == null)
    assert(WavHeader.vadFrames(hugeChunk) == null)
    // a valid fmt followed by a data chunk CLAIMING 0x7FFFFFF6 bytes:
    // the old `off + len > length` bounds check wrapped negative and the
    // PCM fold read past the buffer — must be null on all three folds
    val hugeData = hexBytes(
      "52494646 3C000000 57415645" +
        " 666D7420 10000000 0100 0100 803E0000 007D0000 0200 1000" +
        " 64617461 F6FFFF7F " + "00" * 8)
    assert(WavHeader.pcmSamples(hugeData) == null)
    assert(WavHeader.pcmSumSq(hugeData) == null)
    assert(WavHeader.vadFrames(hugeData) == null)
    // metadata view still parses: the claimed size IS the header's word
    assert(WavHeader.channels(hugeData) == 1)
  }

  test("multimodal header decoder: a NULL payload is a filterable " +
    "'unknown' row, not an NPE that fails the task") {
    val m = graft.ops.Multimodal.HeaderDecoder.decode(null)
    assert(m.format == "unknown" && m.byteLen == 0L &&
      m.width.isEmpty && m.height.isEmpty && m.frames.isEmpty)
  }

  test("mp4 brand: truncated ftyp (no payload) parses to null, not the " +
    "next box's bytes") {
    import graft.functions.Mp4Header
    // ftyp declares size 8 (header only); a moov header follows — the
    // old buffer-bound check returned the moov SIZE FIELD as the brand
    val b = hexBytes("00000008 66747970 0000000C 6D6F6F76 00000000")
    assert(Mp4Header.brand(b) == null)
  }

  test("png codec: encode/decode round-trip, CRC verification, " +
    "Average and Paeth filter reconstruction") {
    import graft.functions.PngCodec
    // round-trip: decoded pixels equal the formula, through real
    // deflate + Sub/Up filters + CRCs
    val png = PngCodec.encodeGray(5, 4, 42L)
    val (w, h, pix) = PngCodec.decodeGray(png)
    assert(w == 5 && h == 4)
    for (y <- 0 until 4; x <- 0 until 5)
      assert((pix(y * 5 + x) & 0xff) == PngCodec.px(x, y, 42L), s"($x,$y)")
    val expectedMean = (for (y <- 0 until 4; x <- 0 until 5)
      yield PngCodec.px(x, y, 42L)).sum.toDouble / 20
    assert(math.abs(PngCodec.brightness(png) - expectedMean) < 1e-12)
    assert(PngCodec.resizeCsv(png) != null)
    // the single-decode struct row (round 16) agrees field-for-field
    // with the per-stat accessors — the q_multimodal_resize seam
    val st = PngCodec.decodeStatsRow(png)
    assert(st.getInt(0) == 5 && st.getInt(1) == 4)
    assert(st.getDouble(2) == PngCodec.brightness(png).doubleValue)
    assert(st.getUTF8String(3) == PngCodec.resizeCsv(png))

    // corrupt one IDAT byte: CRC check must reject, not mis-decode
    val corrupt = png.clone()
    corrupt(45) = (corrupt(45) ^ 0x55).toByte
    assert(PngCodec.decodeGray(corrupt) == null)
    assert(PngCodec.decodeStatsRow(corrupt) == null,
      "the struct decode nulls exactly where the scalar decode nulls")

    // HOSTILE IHDR dimensions with VALID CRCs (review finding): w=2^31-1
    // used to throw NegativeArraySizeException from (w+1)*h, 65536x65536
    // wrapped the raw buffer tiny (AIOOBE in the filter loop), and
    // 50000x50000 was a multi-GB allocation bomb — all must be null
    def withDims(w: Int, h: Int): Array[Byte] = {
      val p = png.clone()
      def putBE(off: Int, v: Int): Unit = {
        p(off) = (v >>> 24).toByte; p(off + 1) = (v >>> 16).toByte
        p(off + 2) = (v >>> 8).toByte; p(off + 3) = v.toByte
      }
      putBE(16, w); putBE(20, h) // IHDR data starts at byte 16
      val crc = new java.util.zip.CRC32()
      crc.update(p, 12, 4 + 13) // type + 13-byte IHDR data
      putBE(29, crc.getValue.toInt)
      p
    }
    assert(PngCodec.decodeGray(withDims(Int.MaxValue, 1)) == null)
    assert(PngCodec.decodeGray(withDims(65536, 65536)) == null)
    assert(PngCodec.decodeGray(withDims(50000, 50000)) == null)
    // and the guard does not clip legitimate sizes: the 5x4 original
    // still round-trips after the same patch-and-recrc path
    assert(PngCodec.decodeGray(withDims(5, 4)) != null)
    // truncated stream
    assert(PngCodec.decodeGray(png.take(40)) == null)
    assert(PngCodec.decodeGray("nope".getBytes) == null)

    // a PNG using Average(3) and Paeth(4) filters — our encoder never
    // emits them, so craft one: pixels 2x3, row0 f=0, row1 f=3, row2 f=4
    val pxs = Array(Array(10, 200), Array(60, 140), Array(90, 250))
    val raw = new java.io.ByteArrayOutputStream()
    raw.write(0); raw.write(10); raw.write(200) // row 0: None
    // row 1: Average — enc = cur - (left + up) / 2
    raw.write(3); raw.write(60 - (0 + 10) / 2)
    raw.write((140 - (60 + 200) / 2) & 0xff)
    // row 2: Paeth — enc = cur - paeth(left, up, upleft)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    raw.write(4); raw.write((90 - paeth(0, 60, 0)) & 0xff)
    raw.write((250 - paeth(90, 140, 60)) & 0xff)
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw.toByteArray); defl.finish()
    val zbuf = new Array[Byte](256)
    val z = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) z.write(zbuf, 0, defl.deflate(zbuf))
    val out = new java.io.ByteArrayOutputStream()
    Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).foreach(out.write)
    def chunk(tp: String, data: Array[Byte]): Unit = {
      def u32(v: Long): Unit = (24 to 0 by -8).foreach(s => out.write(((v >> s) & 0xff).toInt))
      u32(data.length.toLong)
      out.write(tp.getBytes, 0, 4); out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32(); crc.update(tp.getBytes); crc.update(data)
      u32(crc.getValue)
    }
    val ihdr = new java.io.ByteArrayOutputStream()
    Seq(0, 0, 0, 2, 0, 0, 0, 3, 8, 0, 0, 0, 0).foreach(ihdr.write) // 2x3 gray
    chunk("IHDR", ihdr.toByteArray); chunk("IDAT", z.toByteArray)
    chunk("IEND", Array.empty)
    val (w2, h2, pix2) = PngCodec.decodeGray(out.toByteArray)
    assert(w2 == 2 && h2 == 3)
    assert(pix2.map(_ & 0xff).toSeq == pxs.flatten.toSeq)
  }

  test("png codec: output decodes identically under the JDK's own ImageIO " +
    "(independent reference decoder)") {
    import graft.functions.PngCodec
    // cross-validation against a decoder we did not write: javax.imageio
    // ships with the JDK and has its own zlib/filter path — agreement on
    // every pixel rules out a self-consistent-but-wrong codec
    for (seed <- Seq(0L, 7L, 999L); (w, h) <- Seq((8, 8), (16, 9), (11, 16))) {
      val png = PngCodec.encodeGray(w, h, seed)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null, s"ImageIO rejected our PNG (w=$w h=$h seed=$seed)")
      assert(img.getWidth == w && img.getHeight == h)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w)
        assert(raster.getSample(x, y, 0) == PngCodec.px(x, y, seed),
          s"pixel ($x,$y) w=$w h=$h seed=$seed")
    }
  }

  test("mp4 header parse: nested box walk, v0/v1 mvhd, corrupt → null") {
    import graft.functions.Mp4Header
    def box(tp: String, payloadHex: String): String = {
      val size = 8 + payloadHex.replaceAll("\\s", "").length / 2
      f"$size%08X" + tp.getBytes.map(b => f"$b%02X").mkString + payloadHex
    }
    val ftyp = box("ftyp", "69736F6D 00000200 69736F6D")
    // v0 mvhd: timescale 600, duration 60000 units → 100000 ms
    val mvhd0 = box("mvhd",
      "00000000 00000000 00000000 00000258 0000EA60" +
        " 00010000 01000000 0000000000000000" + "00" * 64 + "FFFFFFFF")
    // the walk must skip a free box at top level AND a trak-ish box in moov
    val moov = box("moov", box("free", "AABBCCDD") + mvhd0)
    val mp4 = hexBytes(ftyp + box("free", "11223344") + moov)
    assert(Mp4Header.brand(mp4).toString == "isom")
    assert(Mp4Header.timescale(mp4) == 600)
    assert(Mp4Header.durationMs(mp4) == 100000L)
    // v1 mvhd: 64-bit timestamps/duration — timescale 90000, dur 45000 → 500 ms
    val mvhd1 = box("mvhd",
      "01000000" + "00" * 16 + " 00015F90 000000000000AFC8" +
        " 00010000 01000000 0000000000000000" + "00" * 64 + "FFFFFFFF")
    val mp4v1 = hexBytes(ftyp + box("moov", mvhd1))
    assert(Mp4Header.timescale(mp4v1) == 90000)
    assert(Mp4Header.durationMs(mp4v1) == 500L)
    // corrupt: no ftyp, truncated moov, zero timescale
    assert(Mp4Header.brand("not a video at all".getBytes) == null)
    assert(Mp4Header.timescale(hexBytes(ftyp)) == null)
    assert(Mp4Header.durationMs(hexBytes(ftyp + "00000030 6D6F6F76")) == null)
  }

  test("bloom bits aggregate: bitmap is partitioning-invariant, no false " +
    "negatives ever, and a deliberately tiny m forces false positives") {
    import org.apache.spark.sql.functions._
    import graft.functions.BloomBitsAgg.bloomBits
    val m = 256 // tiny on purpose: 500 members must saturate bits
    def positions(c: org.apache.spark.sql.Column) = {
      val h = md5(c)
      val h1 = conv(substring(h, 1, 8), 16, 10).cast("long")
      val h2 = conv(substring(h, 9, 8), 16, 10).cast("long") * 2 + 1
      transform(sequence(lit(0), lit(4)), i => (h1 + i * h2) % m)
    }
    val items = spark.range(0, 500)
      .select(concat(lit("member-"), col("id")).as("s"))
    def bitmapOf(parts: Int): Array[Long] =
      items.repartition(parts)
        .agg(bloomBits(positions(col("s")), m).as("b"))
        .collect()(0).getSeq[Long](0).toArray
    // OR-reduction is associative+commutative → identical under any split
    assert(bitmapOf(1).sameElements(bitmapOf(7)))
    assert(bitmapOf(7).sameElements(bitmapOf(32)))

    val bitmap = bitmapOf(4)
    def probe(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("bitmap", typedLit(bitmap.toSeq))
        .withColumn("pos", positions(col("s")))
        .filter(expr("forall(pos, p -> (bitmap[CAST(p DIV 64 AS INT)] " +
          "& shiftleft(1L, CAST(p % 64 AS INT))) != 0)"))
        .count()
    // every member must hit (the bloom contract: zero false negatives)
    assert(probe(items) == 500L)
    // at 500*5 insertions into 256 bits nearly every bit is set, so
    // non-members must collide — the spec would catch a broken OR too
    val strangers = spark.range(0, 500)
      .select(concat(lit("stranger-"), col("id")).as("s"))
    val fp = probe(strangers)
    assert(fp > 0, "tiny-m bloom produced no false positives — OR broken?")
  }

  test("kmeans: assignment margins dwarf float noise on both Lloyd passes, " +
    "and engine clusters equal a local reference") {
    val k = 8
    val pts = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "label", "transform(embedding, x -> CAST(x AS DOUBLE)) v")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def assignLocal(cents: Seq[(Int, Array[Double])])
        : (Map[Long, Int], Double) = {
      var minMargin = Double.MaxValue
      val asg = pts.map { case (id, _, v) =>
        val ds = cents.map { case (cid, cv) => (sq(v, cv), cid) }.sorted
        minMargin = math.min(minMargin, ds(1)._1 - ds(0)._1)
        id -> ds.head._2
      }.toMap
      (asg, minMargin)
    }
    val seeds = pts.filter(_._1 < k).map(p => (p._1.toInt, p._3)).toSeq
    val (a0, m0) = assignLocal(seeds)
    // centroid update with the SAME fixed-point quantization as the query
    val cents1 = a0.groupBy(_._2).map { case (cid, members) =>
      val vs = members.keys.map(id => pts.find(_._1 == id).get._3).toSeq
      cid -> vs.head.indices.map { d =>
        val s = vs.map(v => math.rint(v(d) * 1e9).toLong).sum
        s.toDouble / 1e9 / vs.size
      }.toArray
    }.toSeq.sortBy(_._1)
    val (a1, m1) = assignLocal(cents1)
    // the margin between best and second-best centroid bounds how much
    // ULP noise (different fold orders, ~1e-12) could flip an assignment
    assert(m0 > 1e-4, s"pass-0 margin $m0 too small for float safety")
    assert(m1 > 1e-4, s"pass-1 margin $m1 too small for float safety")
    // engine result equals the local reference cluster-for-cluster
    val engine = Similarity.qClusterKmeans(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val localSizes = a1.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    assert(engine == localSizes, s"engine $engine vs local $localSizes")
  }

  test("wav pcm decode: signed 16-bit samples fold to exact integer " +
    "stats, including negatives; null off the 16-bit path") {
    import graft.functions.WavHeader
    def wav(samples: Seq[Short], bits: Int = 16): Array[Byte] = {
      val bb = java.nio.ByteBuffer
        .allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + samples.length * 2)
      bb.put("WAVE".getBytes); bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000)
      bb.putShort(2); bb.putShort(bits.toShort)
      bb.put("data".getBytes); bb.putInt(samples.length * 2)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val s = Seq[Short](1000, -2, -32768, 32767, 0)
    val b = wav(s)
    assert(WavHeader.pcmSamples(b) == 5L)
    assert(WavHeader.pcmSumSq(b) ==
      s.map(v => v.toLong * v).sum)
    assert(WavHeader.pcmPeak(b) == 32768)
    assert(WavHeader.pcmSamples(wav(s, bits = 8)) == null, "8-bit must null")
    assert(WavHeader.pcmSumSq("RIFFxxxxWAVE".getBytes) == null)
    assert(WavHeader.pcmPeak(Array.empty[Byte]) == null)
    // the single-fold struct row (round 16) agrees field-for-field with
    // the per-stat accessors, and nulls exactly where they null — the
    // seam the q_audio_pcm/q_multimodal_vad rewrite leans on
    val pr = WavHeader.pcmStatsRow(b)
    assert(pr.getLong(0) == 5L && pr.getLong(1) == s.map(v => v.toLong * v).sum
      && pr.getInt(2) == 32768)
    assert(WavHeader.pcmStatsRow(wav(s, bits = 8)) == null)
    assert(WavHeader.pcmStatsRow("RIFFxxxxWAVE".getBytes) == null)
    // walk-only counts (no fold) keep the fold's exact guards: the
    // 8-bit and non-wav paths null, the valid path is data-bytes / 2
    assert(WavHeader.pcmSamples(b) == 5L &&
      WavHeader.vadFrames(b) == 0L, "5 samples < one 160-sample frame")
    val big = wav(Seq.tabulate[Short](400)(i => (i % 7).toShort))
    assert(WavHeader.vadFrames(big) == 2L, "400 samples = 2 full frames")
    val vr = WavHeader.vadStatsRow(big)
    assert(vr.getLong(0) == 2L, "struct frame count matches the walk-only gate")
    assert(WavHeader.vadStatsRow(wav(s, bits = 8)) == null)
  }

  test("novelty: per-doc first-occurrence fractions equal a local " +
    "reference, and the earliest doc is fully novel") {
    val rows = Dedup.qTextNovelty(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= 3)
      .map { case (id, ws) => id -> ws.sliding(3).map(_.mkString(" ")).toSet }
      .sortBy(_._1)
    val firstDoc = collection.mutable.Map.empty[String, Long]
    docs.foreach { case (id, sh) =>
      sh.foreach(s => if (!firstDoc.contains(s)) firstDoc(s) = id)
    }
    val local = docs.map { case (id, sh) =>
      (id, sh.size.toLong, sh.count(s => firstDoc(s) == id).toLong)
    }
    assert(rows.toSeq == local.toSeq, "novelty counts differ from local")
    // the lowest doc_id can only contain first occurrences
    assert(rows.head._2 == rows.head._3)
  }

  test("event paths: top transitions equal a local reference recompute") {
    val rows = EventOps.qEventsPaths(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 15)
    val evs = Tables.events(spark, dir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS tsm", "event_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val trans = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      es.sortBy(e => (e._3, e._4)).sliding(2).collect {
        case Array(a, b) => (a._2, b._2, u)
      }
    }
    val localTop = trans.groupBy(t => (t._1, t._2)).map { case ((f, t2), g) =>
      (f, t2, g.size.toLong, g.map(_._3).distinct.size.toLong)
    }.toSeq.sortBy { case (f, t2, n, _) => (-n, f, t2) }.take(15)
    assert(rows.toSeq == localTop, s"engine ${rows.toSeq} vs local $localTop")
  }

  test("snapshot diff: status partition is exhaustive, disjoint, and " +
    "consistent with the version derivations") {
    val rows = Formats.qSnapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rows.keySet == Set("added", "removed", "changed", "unchanged"))
    val ids = Tables.documents(spark, dir).select("doc_id").collect()
      .map(_.getLong(0))
    val inV1 = ids.filter(_ % 19 != 7).toSet
    val inV2 = ids.filter(_ % 17 != 3).toSet
    assert(rows("added")._1 == (inV2 -- inV1).size)
    assert(rows("removed")._1 == (inV1 -- inV2).size)
    assert(rows("changed")._1 == (inV1 & inV2).count(_ % 13 == 5))
    assert(rows("unchanged")._1 == (inV1 & inV2).count(_ % 13 != 5))
    // the four classes partition the union exactly
    assert(rows.values.map(_._1).sum == (inV1 | inV2).size)
  }

  test("ann rerank: two-stage results equal a local reference and rerank " +
    "recall@10 is at least the prefix-only selection's") {
    val engine = Similarity.qAnnRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dp / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val anchors = vecs.keys.filter(_ < 50).toSeq.sorted
    var rerankHits = 0; var prefixHits = 0
    val local = anchors.flatMap { a =>
      val av = vecs(a)
      val others = (vecs - a).toSeq
      val byPrefix = others
        .map { case (b, bv) => (b, cos(av, bv, 16)) }
        .sortBy { case (b, c) => (-c, b) }
      val short = byPrefix.take(50)
      val rerank = short.map { case (b, _) => (b, cos(av, vecs(b), av.length)) }
        .sortBy { case (b, c) => (-c, b) }.take(10)
      val exact = others.map { case (b, bv) => (b, cos(av, bv, av.length)) }
        .sortBy { case (b, c) => (-c, b) }.take(10).map(_._1).toSet
      rerankHits += rerank.map(_._1).count(exact)
      prefixHits += byPrefix.take(10).map(_._1).count(exact)
      rerank.zipWithIndex.map { case ((b, _), i) => (a, b, i + 1) }
    }
    assert(engine.toSeq == local, "engine reranked lists differ from local")
    assert(rerankHits >= prefixHits,
      s"rerank recall $rerankHits < prefix-only $prefixHits (of ${anchors.size * 10})")
  }

  test("quantile sketch: every [lo, hi) bracket contains the exact " +
    "quantile and hi - lo is the certified 64 resolution") {
    val rows = Relational.qQuantileSketch(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 9) // 3 flags x 3 quantiles
    val byFlag = Tables.table(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (f, vs) => f -> vs.map(_._2).sorted }
    rows.foreach { case (flag, q, lo, hi) =>
      assert(hi - lo == 64, s"$flag/$q: bracket width ${hi - lo}")
      val vs = byFlag(flag)
      // the value at rank ceil(q*n) (1-based, "at least q fraction <=")
      val exact = vs(math.ceil(q * vs.length).toLong.toInt - 1)
      assert(exact >= lo && exact < hi,
        s"$flag/$q: exact $exact outside [$lo, $hi)")
    }
  }

  test("png ahash: downsampled mean-threshold bits match a local reference, " +
    "shift-invariant without wraps, null on garbage") {
    import graft.functions.PngCodec
    def ref(w: Int, h: Int, seed: Long): String = {
      val s = for (cy <- 0 until 8; cx <- 0 until 8)
        yield PngCodec.px(cx * w / 8, cy * h / 8, seed)
      val sum = s.map(_.toLong).sum
      var bits = 0L
      for (i <- 0 until 64) if (64L * s(i) >= sum) bits |= 1L << (63 - i)
      f"$bits%016x"
    }
    for ((w, h, seed) <- Seq((8, 8, 0L), (16, 8, 23L), (12, 10, 115L),
      (9, 17, 200L)))
      assert(PngCodec.aHashHex(PngCodec.encodeGray(w, h, seed)).toString
        == ref(w, h, seed), s"($w,$h,$seed)")
    // aHash is shift-invariant while no sample wraps mod 256: +1 on the
    // seed moves every sample and the mean together, bits unchanged
    assert(PngCodec.aHashHex(PngCodec.encodeGray(8, 8, 1L)).toString ==
      PngCodec.aHashHex(PngCodec.encodeGray(8, 8, 2L)).toString)
    // and the query's wrap-scaled seeds produce distinct contents
    assert(PngCodec.aHashHex(PngCodec.encodeGray(8, 8, 0L)).toString !=
      PngCodec.aHashHex(PngCodec.encodeGray(8, 8, 9L * 23)).toString)
    assert(PngCodec.aHashHex("not a png".getBytes) == null)
  }

  test("image neardup: banded hamming pairs equal a local codec reference; " +
    "the integer cut has slack and pigeonhole covers distance <= 3") {
    import graft.functions.PngCodec
    val rows = Multimodal.qImageNeardup(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val docs = Tables.documents(spark, dir).select("doc_id").collect()
      .map(_.getLong(0))
    // recompute hashes through the codec (encode + real decode), never
    // through the engine
    val distinct = docs.map { id =>
      val w = (8 + (id % 2) * 8).toInt
      java.lang.Long.parseUnsignedLong(
        PngCodec.aHashHex(PngCodec.encodeGray(w, 8, (id % 12) * 23)).toString, 16)
    }.distinct.sorted
    def bands(h: Long) = (0 to 3).map(k => (k, (h >> (16 * k)) & 0xFFFFL))
    val sharing = for {
      a <- distinct; b <- distinct if a < b // signed, as in the engine
      shared = bands(a).intersect(bands(b)).size if shared > 0
    } yield (a, b, java.lang.Long.bitCount(a ^ b), shared.toLong)
    val local = sharing.collect { case (a, b, d, s) if d <= 8 =>
      (f"$a%016x", f"$b%016x", d, s)
    }
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      local.sortBy(r => (r._1, r._2)).toSeq,
      s"engine ${rows.toSeq} vs local ${local.toSeq}")
    assert(rows.nonEmpty, "corpus must exercise the detector")
    // the metric is integer bit counting, but assert the corpus is not
    // sitting on the boundary either: nearest band-sharing pair above
    // the cut is >= 2 bits away
    sharing.filter(_._3 > 8).foreach { case (a, b, d, _) =>
      assert(d >= 10, f"pair $a%016x/$b%016x at distance $d hugs the cut")
    }
    // pigeonhole: ANY 64-bit pair within hamming distance 3 must share
    // one of the four 16-bit bands — the exhaustiveness guarantee
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 500) {
      val x = rnd.nextLong()
      var y = x
      (0 until 3).foreach(_ => y ^= 1L << rnd.nextInt(64))
      assert(bands(x).intersect(bands(y)).nonEmpty, f"$x%016x vs $y%016x")
    }
  }

  test("ppjoin: exact all-pairs J >= 0.5 equals a local reference and the " +
    "prefix-filter theorem holds pair by pair on the corpus") {
    val rows = Dedup.qDedupPpjoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
      .filter(_._2.length >= 3)
    val shing = docs.map { case (id, ws) =>
      id -> ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val local = (for {
      (a, sa) <- shing; (b, sb) <- shing if a < b
      i = (sa & sb).size if 3 * i >= sa.size + sb.size
    } yield (a, b, BigDecimal(i.toDouble / (sa.size + sb.size - i))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .sortBy(t => (t._1, t._2))
    assert(rows.toSeq == local.toSeq, s"engine ${rows.length} vs local ${local.length}")
    assert(rows.nonEmpty, "corpus must exercise the join")
    // instantiate the prefix theorem on every matching pair: with tokens
    // ordered rarest-first, both prefixes of length |T| - ceil(|T|/2) + 1
    // contain at least one common token
    val dfMap = shing.flatMap(_._2).groupBy(identity).map { case (s, xs) => s -> xs.size }
    val ordered = shing.toMap.map { case (id, s) =>
      id -> s.toSeq.sortBy(t => (dfMap(t), t))
    }
    rows.foreach { case (a, b, _) =>
      val pa = ordered(a).take(ordered(a).size / 2 + 1).toSet
      val pb = ordered(b).take(ordered(b).size / 2 + 1).toSet
      assert((pa & pb).nonEmpty, s"prefixes of pair ($a,$b) share no token")
    }
  }

  test("embed covariance: sufficient statistics equal a local reference; " +
    "diagonal numerators are Cauchy-Schwarz nonnegative") {
    val rows = Similarity.qEmbedCovariance(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val vecs = Tables.embeddings(spark, dir).select("embedding").collect()
      .map(_.getSeq[Float](0).take(8).map(x =>
        math.round(x.toDouble * 1000)).toArray)
    val local = (for (i <- 0 until 8; j <- i until 8) yield {
      val (si, sj, sij) = vecs.foldLeft((0L, 0L, 0L)) { case ((a, b, c), v) =>
        (a + v(i), b + v(j), c + v(i) * v(j))
      }
      val n = vecs.length.toLong
      (i, j, n, si, sj, sij, n * sij - si * sj)
    }).toSeq
    assert(rows.toSeq == local, s"engine ${rows.take(3).toSeq}... vs local")
    // n·Σq² − (Σq)² >= 0 for every diagonal entry
    rows.filter(r => r._1 == r._2).foreach(r =>
      assert(r._7 >= 0, s"negative variance numerator at dim ${r._1}"))
    assert(rows.length == 36)
  }

  test("pagerank: three fixed-point iterations over the transition graph " +
    "match a local reference and conserve mass within truncation loss") {
    val rows = EventOps.qEventsPagerank(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val edges = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val s = es.sortBy(e => (e._3, e._4)).map(_._2)
      s.zip(s.tail)
    }.groupBy(identity).map { case (e, xs) => e -> xs.size.toLong }
    val out = edges.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val p6 = edges.map { case ((f, t), w) => (f, t) -> (w * 1000000L) / out(f) }
    val nodes = (edges.keys.map(_._1) ++ edges.keys.map(_._2)).toSeq.distinct
    val n = nodes.size
    var r = nodes.map(_ -> 1000000000000L / n).toMap
    for (_ <- 0 until 3) {
      val s = p6.toSeq.map { case ((f, t), p) => t -> (r(f) * p) / 1000000L }
        .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
      r = nodes.map(v => v ->
        ((1000000000000L / n) * 15 / 100 + 85 * s.getOrElse(v, 0L) / 100)).toMap
    }
    val local = nodes.map(v => (v, r(v), out.getOrElse(v, 0L)))
      .sortBy(t => (-t._2, t._1))
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    // damped fixed-point mass: each iteration loses at most ~outdeg ppm
    // to p6 quantization (outdeg <= |V|), so after 3 iterations the rank
    // sum sits within 15·|V| ppm of SCALE
    val mass = rows.map(_._2).sum
    assert(mass <= 1000000000000L && mass > 999900000000L, mass.toString)
  }

  test("winnowing: per-doc selections equal a local reference and a shared " +
    "substring of length >= k + w - 1 yields a shared fingerprint") {
    def winnow(text: String): Seq[(Long, Int)] = {
      val n = text.length
      if (n < 8) return Seq.empty
      val h = (0 to n - 5).map { i =>
        text.substring(i, i + 5).foldLeft(0L)((acc, c) => acc * 131 + c)
      }
      val sel = scala.collection.mutable.LinkedHashSet[(Long, Int)]()
      for (s <- 0 to h.length - 4)
        sel += (s until s + 4).map(j => (h(j), j)).minBy(t => (t._1, -t._2))
      sel.toSeq
    }
    val rows = TextModels.qTextWinnow(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val local = Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .map { case (id, t) =>
        val fps = winnow(t).map(_._1)
        (id, (t.length - 4).toLong, fps.size.toLong, fps.sum, fps.min, fps.max)
      }.sortBy(_._1)
    assert(rows.toSeq == local.toSeq)
    // the SIGMOD'03 guarantee: substrings of length >= 8 shared between
    // two documents always contribute at least one common fingerprint
    val shared = "quick brown fox jumps"
    val fa = winnow(s"the $shared over it").map(_._1).toSet
    val fb = winnow(s"xx $shared zz").map(_._1).toSet
    assert((fa & fb).nonEmpty, "winnowing guarantee violated")
  }

  test("containment: pairs equal a local reference and the 0.5 cut has " +
    "margin against every non-matching pair") {
    val rows = Dedup.qDedupContainment(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val shing = docs.map { case (id, ws) =>
      id -> (if (ws.length < 3) Set.empty[String]
             else ws.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val anchors = shing.filter { case (id, s) => id < 50 && s.nonEmpty }
    var minGapBelow = Double.MaxValue
    val overlapping = for {
      (a, sa) <- anchors.toSeq
      (b, sb) <- shing.toSeq if a != b && sb.nonEmpty
      i = (sa & sb).size if i > 0
    } yield (a, b, i.toDouble / sa.size)
    overlapping.filter(_._3 < 0.5)
      .foreach(t => minGapBelow = math.min(minGapBelow, 0.5 - t._3))
    val local = overlapping.filter(_._3 >= 0.5)
      .map { case (a, b, c) => (a, b,
        BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy(t => (t._1, t._2))
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    assert(rows.nonEmpty, "corpus must exercise the detector")
    assert(minGapBelow >= 0.2,
      s"nearest non-match only $minGapBelow below the 0.5 cut")
  }

  test("bm25: scores agree with a local reference computation") {
    val rows = TextModels.qTextBm25(spark, dir).collect()
    assert(rows.length == 15)
    // local reference: recompute BM25 from raw text with plain Scala
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val qterms = Seq("hash", "query", "table", "vector", "scan")
    val n = docs.size
    val dl = docs.map { case (id, ws) => id -> ws.length }
    val avgdl = dl.values.sum.toDouble / n
    val tf = docs.map { case (id, ws) =>
      id -> ws.filter(qterms.contains).groupBy(identity)
        .map { case (w, g) => w -> g.length }
    }
    val dfT = qterms.map(t => t -> tf.count(_._2.contains(t))).toMap
    def score(id: Long): BigDecimal =
      tf(id).map { case (t, f) =>
        val idf = math.log(1.0 + (n - dfT(t) + 0.5) / (dfT(t) + 0.5))
        val c = idf * (f * 2.2) /
          (f + 1.2 * (0.25 + 0.75 * dl(id) / avgdl))
        BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(BigDecimal(r.getString(2)) == score(id),
        s"doc $id: engine ${r.getString(2)} vs local ${score(id)}")
    }
    // and the emitted 15 are the global top by that local score
    val localTop = docs.keys.toSeq
      .sortBy(id => (-score(id), id)).take(15)
    assert(rows.map(_.getLong(0)).toSeq == localTop)
  }

  test("bpe pairs: top-20 equals a local reference count") {
    val rows = TextModels.qBpePairs(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    val words = Tables.documents(spark, dir).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("[^a-z]+"))
      .filter(_.length >= 2)
    val occ = collection.mutable.Map.empty[String, Long]
    val sup = collection.mutable.Map.empty[String, collection.mutable.Set[String]]
    words.foreach { w =>
      w.sliding(2).foreach { p =>
        occ(p) = occ.getOrElse(p, 0L) + 1
        sup.getOrElseUpdate(p, collection.mutable.Set.empty) += w
      }
    }
    val localTop = occ.toSeq.map { case (p, n) => (p, n, sup(p).size.toLong) }
      .sortBy { case (p, n, _) => (-n, p) }.take(20)
    assert(rows.toSeq == localTop, s"engine ${rows.toSeq} vs local $localTop")
  }

  test("graph triangles: census equals a local reference; degree " +
    "orientation bounds every out-degree by sqrt(2m)") {
    val rows = GraphOps.qGraphTriangles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "graph must contain triangles")
    val small = Tables.part(spark, dir).where("p_size <= 10")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(t => small(t._2)).distinct
    val edges = li.groupBy(_._1).values.flatMap { ps =>
      val s = ps.map(_._2).distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val triCount = collection.mutable.Map.empty[Long, Long]
    edges.foreach { case (a, b) =>
      (adj(a) & adj(b)).filter(_ > b).foreach { c =>
        Seq(a, b, c).foreach(n => triCount(n) = triCount.getOrElse(n, 0L) + 1)
      }
    }
    val localTop = triCount.toSeq.map { case (n, t) =>
      val d = deg(n)
      (n, d, t, BigDecimal(2.0 * t / (d * (d - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (n, _, t, _) => (-t, n) }.take(20)
    assert(rows.toSeq == localTop, s"engine ${rows.toSeq} vs local $localTop")
    // the scale invariant behind the wedge bound: orienting each edge
    // toward the (degree, id)-larger endpoint caps out-degree at sqrt(2m)
    val m = edges.size.toLong
    val rank = deg.map { case (n, d) => n -> ((d, n)) }
    val outDeg = edges.toSeq
      .map { case (a, b) =>
        if (Ordering[(Long, Long)].lt(rank(a), rank(b))) a else b
      }
      .groupBy(identity).values.map(_.size)
    assert(outDeg.max <= math.sqrt(2.0 * m) + 1,
      s"out-degree ${outDeg.max} exceeds sqrt(2m) for m=$m")
  }

  test("shard export: stats equal the documents table and the produced " +
    "shard bytes are deterministic across invocations") {
    def runAndHash(): (Seq[(Long, Long, Long, Long)], Map[Long, String]) = {
      val rows = Multimodal.qMultimodalShardWrite(spark, dir)
      val stats = rows.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // recover the export dir from the scan the query returns
      val files = rows.inputFiles.filter(_.endsWith(".tar"))
      val hashes = files.map { f =>
        val p = java.nio.file.Paths.get(new java.net.URI(f))
        val shard = "shard-(\\d+)\\.tar".r.findFirstMatchIn(f).get.group(1).toLong
        val md = java.security.MessageDigest.getInstance("MD5")
        shard -> md.digest(java.nio.file.Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
      }.toMap
      (stats.toSeq.sortBy(_._1), hashes)
    }
    val (s1, h1) = runAndHash()
    val (s2, h2) = runAndHash()
    assert(s1.nonEmpty && s1 == s2)
    assert(h1 == h2, "shard bytes differ across invocations")
    val direct = Tables.documents(spark, dir)
      .selectExpr("doc_id % 8 AS shard",
        "CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT) AS sz")
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (s, rs) => (s, rs.size.toLong, rs.map(_._2).sum) }
    s1.foreach { case (shard, n, size, names) =>
      val (_, dn, dsz) = direct.find(_._1 == shard).get
      assert(n == dn && size == dsz && names == dn, s"shard $shard drifted")
    }
  }

  test("stream recovery: restarted query equals the batch aggregate — " +
    "file 0's contribution survives the checkpointed stop") {
    val got = EventStreaming.qStreamRecovery(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(expr("CAST(round(value * 100) AS BIGINT)")).as("vmax2"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
        col("n"), col("vmax2"))
      .orderBy(col("ws"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.toSeq == want.toSeq,
      s"recovered stream diverged from batch (${got.length} vs ${want.length} rows)")
  }

  test("dq constraints: all seven checks report, clean TPC-H data has " +
    "zero violations, and a planted orphan is caught") {
    import spark.implicits._
    val rows = RelationalQuality.qDqConstraints(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 7, rows.mkString(","))
    rows.foreach { case (name, viol, checked) =>
      assert(checked > 0, s"$name: empty audit (n_checked=0)")
      assert(viol == 0L, s"$name: unexpected violations on clean data")
    }
    // the anti-join direction actually catches: an order key absent from
    // orders must count as an orphan (null-keyed rows included)
    val fact = Seq(Some(1L), Some(999999999L), None).toDF("k")
    val dim = Seq(1L, 2L).toDF("k")
    val orphans = fact.join(dim, Seq("k"), "left_anti").count()
    assert(orphans == 2L)
  }

  test("k-anonymity: per-segment risk readout equals a local reference " +
    "with floor-banded balances") {
    val local = Tables.customer(spark, dir)
      .selectExpr("c_mktsegment", "CAST(c_nationkey AS BIGINT) AS nat",
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        Math.floorDiv(r.getLong(2), 100000L)))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .groupBy(_._1._1)
      .map { case (seg, cls) =>
        val sizes = cls.map(_._2)
        (seg, sizes.size.toLong, sizes.count(_ < 5).toLong,
          sizes.filter(_ < 5).sum, sizes.min, sizes.max)
      }.toSeq.sortBy(_._1)
    val rows = RelationalQuality.qPrivacyKanon(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
  }

  test("sketch merge: per-day HLL union certifies against the global " +
    "sketch and the exact distinct count") {
    val r = RelationalQuality.qSketchMerge(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) > 0)
    assert(row.getBoolean(1), s"merged vs global estimate drifted: $row")
    assert(row.getBoolean(2), s"global estimate outside 5% of exact: $row")
  }

  test("spatial grid blocking: complete on adversarial boundary points " +
    "(every brute-force pair within r is found, none fabricated)") {
    import spark.implicits._
    val r = 16
    // points straddling cell boundaries, corners, exact-radius pairs
    val pts = Seq(
      (1L, 15L, 15L), (2L, 16L, 16L), (3L, 31L, 0L), (4L, 0L, 0L),
      (5L, 1023L, 1023L), (6L, 1008L, 1008L), (7L, 16L, 0L),
      (8L, 0L, 16L), (9L, 47L, 47L), (10L, 48L, 48L), (11L, 32L, 32L),
      (12L, 500L, 500L), (13L, 500L, 516L), (14L, 516L, 500L),
      (15L, 484L, 500L), (16L, 500L, 484L))
    val df = pts.toDF("id", "x", "y")
    val got = RelationalQuality.spatialPairs(df, r).select("a", "b", "dist2")
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
      .toSet
    val want = (for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts if a < b
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by) if d2 <= r * r
    } yield (a, b, d2)).toSet
    assert(got == want, s"got ${got.toSeq.sorted} want ${want.toSeq.sorted}")
  }

  test("changepoint: top-5 CUSUM days equal a local integer reference") {
    val daily = Tables.events(spark, dir)
      .selectExpr("CAST(to_date(ts) AS STRING) AS dte").collect()
      .map(_.getString(0)).groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    val n = daily.size.toLong
    val total = daily.map(_._2).sum
    var prefix = 0L
    val local = daily.zipWithIndex.map { case ((d, c), i) =>
      prefix += c
      (d, c, prefix, math.abs(n * prefix - (i + 1) * total))
    }.sortBy { case (d, _, _, s) => (-s, d) }.take(5)
    val rows = EventStats.qEventsChangepoint(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
  }

  test("rfm: segments partition the customers and match a local reference " +
    "built from the same lower-median definition") {
    val perCust = Tables.orders(spark, dir)
      .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS d",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
      .groupBy(_._1)
    val anchor = perCust.values.flatten.map(_._2).max
    val m = perCust.map { case (k, rs) =>
      val rec = java.time.temporal.ChronoUnit.DAYS.between(
        rs.map(_._2).max, anchor)
      val cents = rs.map(_._3).sum
      (k, rec, rs.size.toLong, cents / 100000L, cents)
    }.toSeq
    def lowerMedian(vs: Seq[Long]): Long = {
      val sorted = vs.sorted
      val nn = sorted.size.toLong
      // min v with 2*cum >= n over the value histogram == element at
      // ceil(n/2) of the sorted multiset
      sorted(((nn + 1) / 2 - 1).toInt)
    }
    val rMed = lowerMedian(m.map(_._2))
    val fMed = lowerMedian(m.map(_._3))
    val mMed = lowerMedian(m.map(_._4))
    val local = m.groupBy { case (_, r, f, mk, _) =>
      (if (r <= rMed) "R" else "r") + (if (f > fMed) "F" else "f") +
        (if (mk > mMed) "M" else "m")
    }.map { case (seg, rs) =>
      (seg, rs.size.toLong, rs.map(_._5).sum, rs.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val rows = RelationalQuality.qRfmSegments(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == local, s"engine ${rows.toSeq} vs local $local")
    assert(rows.map(_._2).sum == perCust.size.toLong)
  }

  test("rolling median: med2 equals a brute-force frame recompute and is " +
    "robust where a rolling mean is not (bounded by frame min/max)") {
    val rows = RelationalQuality.qWindowMedian(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val series = rs.sortBy(_._2)
      series.indices.foreach { i =>
        val frame = series.slice(math.max(0, i - 6), i + 1).map(_._3).sorted
        val n = frame.size
        val expect = frame((n + 1) / 2 - 1) + frame((n + 2) / 2 - 1)
        assert(series(i)._4 == expect,
          s"${series(i)}: med2 ${series(i)._4} != $expect")
        assert(series(i)._4 >= 2 * frame.head && series(i)._4 <= 2 * frame.last)
      }
    }
  }

  test("modularity: contributions replay from a local synchronous LPA " +
    "and the partition accounting closes (sum deg = 2m)") {
    val edges = GraphOps.coPurchaseEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var lbl = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = nbrs.map { case (u, vs) =>
        val votes = vs.groupBy(lbl).view.mapValues(_.size).toSeq
        u -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val m = edges.length.toLong
    val intra = edges.groupBy(e => lbl(e._1))
      .view.mapValues(_.count(e => lbl(e._1) == lbl(e._2)).toLong).toMap
    val rows = GraphOps.qGraphModularity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._4).sum == 2 * m, "degree accounting broke")
    assert(rows.map(_._3).sum <= m)
    rows.foreach { case (c, nMembers, lc, dc, q6) =>
      assert(nMembers == lbl.count(_._2 == c).toLong, s"community $c size")
      assert(lc == intra.getOrElse(c, 0L), s"community $c intra edges")
      val num = BigInt(4) * m * lc - BigInt(dc) * dc
      val want = math.rint(num.toDouble / (4.0 * m * m) * 1e6) / 1e6 + 0.0
      assert(math.abs(q6 - want) < 1e-9, s"community $c: q $q6 != $want")
    }
    // Q is bounded; at sf0.001 LPA collapses to ONE community, where
    // Q = m/m − (2m/2m)² = 0 exactly — the degenerate-partition readout
    // the score exists to expose (multi-community SFs go positive: the
    // sf0.01/sf0.1 oracle rows carry structure, certified by the hash)
    val q = rows.map(_._5).sum
    assert(q >= -0.5 && q <= 1.0)
    if (rows.length == 1) assert(math.abs(q) < 1e-9,
      s"single community must score exactly 0, got $q")
  }

  test("cluster profile: the cross-modal join replays locally (seed " +
    "assignment x text stats) and the clusters partition the corpus") {
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS DOUBLE)) v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val seeds = vecs.filter(_._1 < 8).sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val z = a(i) - b(i); s += z * z; i += 1 }
      s
    }
    val assign = vecs.map { case (id, v) =>
      id -> seeds.map { case (c, cv) => (d2(v, cv), c) }.min._2 }.toMap
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang", "text").collect()
      .map { r =>
        val ws = r.getString(2).split(" ", -1)
        val score = ws.map { w =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(w.getBytes("UTF-8")).take(3)
            .map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex, 16) % 4096 % 101 - 50
        }.sum
        (r.getLong(0), r.getString(1) == "en", ws.length.toLong,
          score * 10000L / (ws.length * 50L))
      }
    val local = docs.groupBy(x => assign(x._1)).map { case (c, xs) =>
      c -> (xs.length.toLong, xs.count(_._2).toLong,
        xs.count(_._2) * 1000000L / xs.length,
        xs.map(_._3).sum / xs.length,
        { val sm = xs.map(_._4).sum
          // integer DIV truncates toward zero in both engines
          sm / xs.length })
    }
    val rows = Similarity.qClusterProfile(spark, dir).collect()
      .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSet == local.keySet)
    rows.foreach { case (c, got) =>
      assert(got == local(c), s"cluster $c: $got != ${local(c)}") }
    assert(rows.map(_._2._1).sum == docs.length.toLong,
      "clusters must partition the corpus")
    // cross-modal non-vacuity: profiles differ across clusters
    assert(rows.map(_._2._5).distinct.length > 1,
      "identical margins everywhere: profiling is vacuous")
  }

  test("time-to-convert: quantiles equal a sorted local replay under " +
    "the explicit type-1 rank rule and the quartiles are ordered") {
    val firsts = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS tu")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (u, es) =>
        (u, es.filter(_._2 == "view").map(_._3).minOption,
          es.filter(_._2 == "purchase").map(_._3).minOption)
      }.toSeq
    val lats = firsts.collect {
      case (_, Some(v), Some(p)) if p >= v => (p - v) / 60000000L
    }.sorted
    val nViewed = firsts.count(_._2.isDefined).toLong
    val n = lats.length.toLong
    def q(p: Int): Long = lats((math.ceil(n * p / 100.0) - 1).toInt.max(0))
    val r = EventOps.qEventsTimeToConvert(spark, dir).collect().head
    assert(r.getLong(0) == nViewed && r.getLong(1) == n)
    assert(r.getLong(2) == n * 1000000L / nViewed)
    assert((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((q(25), q(50), q(75), q(90))),
      s"quantiles ${(r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))}" +
        s" != ${(q(25), q(50), q(75), q(90))}")
    assert(r.getLong(3) <= r.getLong(4) && r.getLong(4) <= r.getLong(5) &&
      r.getLong(5) <= r.getLong(6))
    assert(n > 0 && n < nViewed, "conversion must be a strict subset")
  }

  test("vad: frame decisions replay from an independent local PCM " +
    "decode and the screen actually discriminates across clips") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
    val local = docs.flatMap { case (id, body) =>
      val block = (1 + id % 2).toInt * 2
      val ds = body.length / block * block
      val n = ds / 2
      val frames = n / 160
      if (frames == 0) None
      else {
        // unsigned LE 16-bit (ASCII bodies: hi byte < 0x80 ⇒ == signed)
        val smp = (0 until frames * 160).map(k =>
          (body(2 * k) & 0xff).toLong + 256L * (body(2 * k + 1) & 0xff))
        val ss = smp.map(v => v * v).sum
        val m = frames * 160L
        val act = (0 until frames).map { f =>
          val e = (f * 160 until (f + 1) * 160).map(k =>
            smp(k) * smp(k)).sum
          2L * m * e > 160L * ss
        }
        var run = 0L; var best = 0L
        act.foreach { a =>
          if (a) { run += 1; if (run > best) best = run } else run = 0 }
        Some((id, frames.toLong, act.count(identity).toLong, best))
      }
    }
    val rows = Multimodal.qMultimodalVad(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(r => (r._1, r._2, r._3, r._4)).toSeq == local.toSeq)
    rows.foreach { case (id, nf, na, run, e6) =>
      assert(na <= nf && run <= na, s"doc $id accounting")
      assert(e6 == na * 1000000L / nf)
    }
    // discrimination on crafted audio: text-derived clips are near-
    // uniform (every frame active — the replay above proves the
    // threshold math, not the split), so drive the kernel itself with
    // 10 silent frames then 10 loud frames and demand a clean split
    val frames = 20
    val data = new Array[Byte](frames * 160 * 2)
    (10 * 160 until frames * 160).foreach { k =>
      data(2 * k) = 0x10; data(2 * k + 1) = 0x27 // 10000 LE
    }
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val wav = "RIFF".getBytes ++ le32(36 + data.length) ++
      "WAVEfmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(data.length) ++ data
    assert(graft.functions.WavHeader.vadFrames(wav) == 20L &&
      graft.functions.WavHeader.vadActive(wav) == 10L &&
      graft.functions.WavHeader.vadRun(wav) == 10L,
      "kernel must flag exactly the loud half as one run")
    // overflow boundary: at full-scale amplitude a frame energy e is
    // 160·32767² ≈ 1.7e11, so the naive threshold product 2·m·e passes
    // 2⁶³ once m exceeds ~2.7e7 samples (a HALF-HOUR 16 kHz clip) and
    // flips sign — silently deactivating every loud frame. The reduced
    // compare e > ss DIV (2·frames) never leaves Long range.
    val bigFrames = 180000 // 28.8e6 samples: 2·m·e ≈ 9.9e18 > Long.Max
    val bigData = new Array[Byte](bigFrames * 160 * 2)
    (bigFrames / 2 * 160 until bigFrames * 160).foreach { k =>
      bigData(2 * k) = 0xff.toByte; bigData(2 * k + 1) = 0x7f // 32767 LE
    }
    val bigWav = "RIFF".getBytes ++ le32(36 + bigData.length) ++
      "WAVEfmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(16000) ++ le32(32000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(bigData.length) ++ bigData
    assert(graft.functions.WavHeader.vadFrames(bigWav) == bigFrames.toLong &&
      graft.functions.WavHeader.vadActive(bigWav) == bigFrames / 2L &&
      graft.functions.WavHeader.vadRun(bigWav) == bigFrames / 2L,
      "full-scale half-hour clip: the loud half must stay active — an " +
        "overflowing 2·m·e compare wraps negative and reports silence")
  }

  test("fdr: per-type z replays from local moments, BH rejects a " +
    "prefix of the |z| ranking, and the critical values are monotone") {
    val rows = EventStats.qStatsFdr(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getDouble(4), r.getBoolean(5)))
    assert(rows.length == 5 && rows.map(_._4).toSeq == (1 to 5))
    val cents = Tables.events(spark, dir)
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) c")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = cents.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def mom(xs: Iterable[Long]) = {
      val n = xs.size.toLong; val s = xs.sum
      val q = xs.map(x => BigInt(x) * x).sum
      (n, s, (BigInt(n) * q - BigInt(s) * s).toDouble / (n.toDouble * (n - 1)))
    }
    val all = cents.map(_._2)
    val zLocal = byType.map { case (t, xs) =>
      val (n1, s1, v1) = mom(xs)
      val rest = all.diff(xs.toSeq)
      val (n0, s0, v0) = mom(rest)
      t -> ((s1.toDouble / n1 - s0.toDouble / n0) /
        math.sqrt(v1 / n1 + v0 / n0))
    }
    rows.foreach { case (t, n, z6, _, _, _) =>
      assert(n == byType(t).size.toLong)
      assert(math.abs(z6 - math.rint(zLocal(t) * 1e6) / 1e6) < 1e-9,
        s"$t: z $z6 != ${zLocal(t)}")
    }
    // BH on the same thresholds, local
    val thr = Seq(2.5758293035489004, 2.3263478740408408,
      2.170090378034251, 2.0537489106318225, 1.959963984540054)
    val sorted = zLocal.toSeq.sortBy { case (t, z) => (-math.abs(z), t) }
    val k = sorted.zipWithIndex
      .filter { case ((_, z), i) => math.abs(z) >= thr(i) }
      .map(_._2 + 1).lastOption.getOrElse(0)
    rows.foreach { case (t, _, _, rank, crit, rej) =>
      assert(rej == (rank <= k), s"$t: BH rejection")
      assert(crit == math.rint(thr(rank - 1) * 1e6) / 1e6)
    }
    // structural: rejections form a prefix; thresholds decrease
    assert(rows.sortBy(_._4).map(_._6).toSeq.sliding(2).forall {
      case Seq(a, b) => a || !b; case _ => true })
    assert(thr.sliding(2).forall { case Seq(a, b) => a > b })
  }

  test("gini: coefficient and top-decile share equal a brute-force " +
    "sorted replay and land in their theoretical ranges") {
    val vals = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .selectExpr("CAST(round(value * 100) AS BIGINT) v")
      .collect().map(_.getLong(0)).sorted
    val n = vals.length.toLong
    val sv = vals.map(BigInt(_)).sum
    val gnum = vals.zipWithIndex.map { case (v, i) =>
      BigInt(v) * (2L * (i + 1) - n - 1) }.sum
    val gini = gnum.toDouble / (n.toDouble * sv.toDouble)
    val k = n / 10
    val topCents = vals.takeRight(k.toInt).map(BigInt(_)).sum
    val r = EventStats.qStatsGini(spark, dir).collect().head
    assert(r.getLong(0) == n && BigInt(r.getLong(1)) == sv)
    assert(math.abs(r.getDouble(2) - math.rint(gini * 1e6) / 1e6) < 1e-9,
      s"gini ${r.getDouble(2)} != local $gini")
    assert(r.getLong(3) == k &&
      r.getLong(4) == (topCents * 1000000 / sv).toLong)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
    // top decile must hold at least its proportional share
    assert(r.getLong(4) >= 100000L)
  }

  test("stream late data: the routed state equals the on-time batch " +
    "aggregate, the dead-letter ledger reconciles, and nothing late " +
    "leaked into the aggregate") {
    val evs = Tables.events(spark, dir)
      .selectExpr("unix_micros(ts) AS tu",
        "CAST(round(value * 100) AS BIGINT) AS c").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lo = evs.map(_._1).min
    val cut = lo + 2L * 86400000000L
    val (late, onTime) = evs.partition(_._1 < cut)
    val localAgg = onTime.groupBy(e => (e._1 - e._1 % 86400000000L))
      .map { case (ds, xs) =>
        ds / 1000000L -> (xs.length.toLong, xs.map(_._2).sum) }
    val rows = EventStreaming.qStreamLateData(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.map(_._1).toSet == localAgg.keySet)
    rows.foreach { case (ds, n, cents, nl, ok) =>
      assert((n, cents) == localAgg(ds), s"day $ds")
      assert(nl == late.length.toLong && ok,
        "dead-letter ledger must reconcile with the split formula")
    }
    assert(rows.map(_._2).sum == onTime.length.toLong,
      "late rows leaked into the aggregate")
    assert(late.nonEmpty, "no late rows: the router was never exercised")
  }

  test("bots: gap moments replay locally and the regularity ranking " +
    "is consistent with its own flag") {
    val evs = Tables.events(spark, dir)
      .selectExpr("user_id", "unix_micros(ts) AS tu", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val local = evs.groupBy(_._1).flatMap { case (u, xs) =>
      val gaps = xs.sortBy(e => (e._2, e._3)).map(_._2)
        .sliding(2).collect { case Array(a, b) => (b - a) / 1000000L }
        .toArray
      if (gaps.length >= 20) {
        val n = gaps.length.toLong
        val sg = gaps.sum
        val sgg = gaps.map(g => BigInt(g) * g).sum
        val cv2 = (BigInt(n) * sgg - BigInt(sg) * sg).toDouble /
          (BigInt(sg) * sg).toDouble
        Some((u, n, sg / n, math.rint(cv2 * 1e6) / 1e6, cv2 < 0.1))
      } else None
    }.toSeq.sortBy(x => (x._4, x._1)).take(20)
    val rows = EventStats.qEventsBots(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.toSeq == local, s"bots ${rows.toSeq} != $local")
    rows.foreach { case (u, _, _, cv2, flag) =>
      assert(cv2 >= 0.0, s"user $u negative cv2")
    }
  }

  test("ldp: the randomized-response mechanism replays locally event " +
    "by event and the debiased estimator tracks the true counts") {
    val events = Tables.events(spark, dir)
      .select("event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val types = events.map(_._2).distinct.sorted
    def h(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(3)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 700000L
    }
    val reported = events.map { case (id, t) =>
      val rt = types.indexOf(t)
      val hv = h(id)
      if (hv < 300000L) rt
      else {
        val j = ((hv - 300000L) / 100000L).toInt
        if (j < rt) j else j + 1
      }
    }
    val obs = reported.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = events.length.toLong
    val trueCnt = events.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val rows = RelationalQuality.qPrivacyLdp(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == types.toSeq)
    rows.foreach { case (t, nTrue, o, est2) =>
      val rt = types.indexOf(t)
      assert(nTrue == trueCnt(t) && o == obs.getOrElse(rt, 0L))
      assert(est2 == 7L * o - n, s"$t: debias formula")
      // unbiased estimator lands within 6 binomial SEs of the truth
      val se2 = 7.0 * math.sqrt(n * (3.0 / 7) * (4.0 / 7))
      assert(math.abs(est2 - 2.0 * nTrue) < 6 * se2,
        s"$t: est2 $est2 vs 2*true ${2 * nTrue} (se2 $se2)")
    }
    // privacy: a single report must not reveal the type — every type
    // is reported by events of every OTHER true type (mixing happened)
    assert(reported.distinct.length == types.length)
  }

  test("asof nearest: every click matches a brute-force nearest view " +
    "within tolerance, ties to the earlier view") {
    val evs = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click"))
      .selectExpr("user_id", "unix_micros(ts) AS t", "event_id",
        "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val tol = 7200000000L
    val byUser = evs.groupBy(_._1)
    val rows = EventOps.qEventsAsofNearest(spark, dir).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    val clicks = evs.filter(_._4 == "click")
    assert(rows.length == clicks.length)
    val got = rows.map(r => r._1 -> (r._2, r._3)).toMap
    clicks.foreach { case (u, t, cid, _) =>
      val views = byUser(u).filter(_._4 == "view")
      val inTol = views.map(v => (math.abs(v._2 - t), v._2, v._3))
        .filter(_._1 <= tol)
      val want = if (inTol.isEmpty) (None, None)
      else {
        val best = inTol.minBy(x => (x._1, x._2))
        (Some(best._3), Some(best._2 - t))
      }
      assert(got(cid) == want, s"click $cid: ${got(cid)} != $want")
    }
    // non-vacuity: both directions actually occur
    assert(rows.exists(_._3.exists(_ < 0)) && rows.exists(_._3.exists(_ > 0)))
  }

  test("burstiness: cf/df replay locally and content words burst " +
    "(every word has cf >= df, coverage <= 1)") {
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val nd = docs.length.toLong
    val agg = docs.flatMap { case (id, ws) => ws.map(w => (w, id)) }
      .groupBy(_._1).view.mapValues { xs =>
        (xs.length.toLong, xs.map(_._2).distinct.length.toLong) }.toMap
    val top = agg.toSeq.map { case (w, (cf, df)) => (w, cf, df) }
      .sortBy(x => (-x._2, x._1)).take(50)
    val rows = TextEval.qTextBurstiness(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(x => (x._1, x._2, x._3)).toSeq == top)
    rows.foreach { case (w, cf, df, burst, cov) =>
      assert(burst == cf * 1000000L / df && cov == df * 1000000L / nd)
      assert(burst >= 1000000L && cov <= 1000000L, s"$w invariants")
    }
  }

  test("poisson dispersion: moments replay locally and the verdict " +
    "boolean is consistent with the z formula") {
    val cells = Tables.events(spark, dir)
      .selectExpr("user_id", "CAST(ts AS DATE) d").collect()
      .map(r => (r.getLong(0), r.getDate(1)))
      .groupBy(identity).values.map(_.length.toLong).toArray
    val n = cells.length.toLong
    val s = cells.sum
    val q = cells.map(x => BigInt(x) * x).sum
    val v = (BigInt(n) * q - BigInt(s) * s).toDouble / (n.toDouble * (n - 1.0))
    val mean = s.toDouble / n
    val disp = (n - 1.0) * v / mean
    val z = (disp - (n - 1.0)) / math.sqrt(2.0 * (n - 1.0))
    val r = EventStats.qStatsPoisson(spark, dir).collect().head
    assert(r.getLong(0) == n && r.getLong(1) == s)
    assert(r.getDouble(2) == math.rint(mean * 1e6) / 1e6 &&
      r.getDouble(3) == math.rint(v * 1e6) / 1e6 &&
      r.getDouble(4) == math.rint(v / mean * 1e6) / 1e6 &&
      r.getDouble(5) == math.rint(z * 1e6) / 1e6)
    assert(r.getBoolean(6) == (z > 4.0))
    assert(mean >= 1.0, "active-cell conditioning: every cell has >= 1")
  }

  test("jsd: divergence replays locally, is symmetric, and sits in " +
    "[0, ln 2] with real separation between the slices") {
    val toks = Tables.documents(spark, dir).select("lang", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1)
        .map(w => (r.getString(0) == "en", w)))
    val cells = toks.groupBy(_._2).view.mapValues { xs =>
      (xs.count(_._1).toLong, xs.count(!_._1).toLong) }.toMap
    val np = cells.values.map(_._1).sum
    val nq = cells.values.map(_._2).sum
    def jsdOf(swap: Boolean): Long = cells.values.map { case (a0, b0) =>
      val (a, b) = if (swap) (b0, a0) else (a0, b0)
      val (tp, tq) = (if (swap) (nq, np) else (np, nq)) match {
        case (tP, tQ) =>
          val p = a.toDouble / tP; val q = b.toDouble / tQ
          val m = (p + q) / 2.0
          (if (a > 0) p * math.log(p / m) else 0.0,
            if (b > 0) q * math.log(q / m) else 0.0)
      }
      math.rint(tp * 5e8).toLong + math.rint(tq * 5e8).toLong
    }.sum
    val r = TextEval.qTextJsd(spark, dir).collect().head
    assert(r.getLong(0) == cells.size.toLong &&
      r.getLong(1) == np && r.getLong(2) == nq)
    assert(r.getLong(3) == jsdOf(swap = false),
      s"jsd_n9 ${r.getLong(3)} != local ${jsdOf(swap = false)}")
    assert(jsdOf(swap = true) == jsdOf(swap = false), "JSD must be symmetric")
    assert(r.getLong(3) >= 0L && r.getBoolean(5) &&
      r.getLong(3) <= 693147181L)
    assert(r.getLong(3) > 1000L, "slices indistinguishable: spec vacuous")
  }

  test("hilbert: bucket stats replay from a local xy2d transform, the " +
    "curve is a continuous bijection, and locality beats random layout") {
    def xy2d(bits: Int, x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val bits = 10
    val dom = 1L << bits
    val keys = Tables.lineitem(spark, dir)
      .selectExpr(s"l_partkey % $dom AS a", s"l_suppkey % $dom AS b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val local = keys.groupBy { case (a, b) =>
        xy2d(bits, a, b) >> (2 * bits - 6) }
      .map { case (bk, xs) => bk -> (xs.length.toLong,
        xs.map(_._1).min, xs.map(_._1).max,
        xs.map(_._2).min, xs.map(_._2).max) }
    val rows = Layout.qLayoutHilbert(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSet == local.keySet)
    rows.foreach { case (bk, got) => assert(got == local(bk), s"bucket $bk") }
    // bijection + continuity on a full small grid: every d in [0, 4^5)
    // hit exactly once and consecutive cells are grid neighbors
    val grid = for (x <- 0L until 32L; y <- 0L until 32L)
      yield (xy2d(5, x, y), (x, y))
    assert(grid.map(_._1).toSet == (0L until 1024L).toSet, "not a bijection")
    val byD = grid.sortBy(_._1).map(_._2)
    byD.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumps between ($x1,$y1) and ($x2,$y2)")
    }
    // locality: mean per-bucket extent is far below the 1.0 a random
    // (hash-scattered) layout would show in both dimensions
    val rws = Layout.qLayoutHilbert(spark, dir).collect()
    val aExt = rws.map(_.getDouble(6)).sum / rws.length
    val bExt = rws.map(_.getDouble(7)).sum / rws.length
    assert(aExt < 0.5 && bExt < 0.5,
      s"hilbert extents a=$aExt b=$bExt not localized")
  }

  test("conductance: cut/volume replay from the same local LPA and " +
    "the boundary accounting closes against modularity's intra edges") {
    val edges = GraphOps.coPurchaseEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    var lbl = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = nbrs.map { case (u, vs) =>
        val votes = vs.groupBy(lbl).view.mapValues(_.size).toSeq
        u -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val m = edges.length.toLong
    val vol = lbl.groupBy(_._2).view
      // .keys is a Set — map to degrees via Seq or equal degrees collapse
      .mapValues(_.keys.toSeq.map(n => nbrs(n).size.toLong).sum).toMap
    val intra = edges.groupBy(e => lbl(e._1))
      .view.mapValues(_.count(e => lbl(e._1) == lbl(e._2)).toLong).toMap
    val rows = GraphOps.qGraphConductance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    assert(rows.nonEmpty)
    rows.foreach { case (c, nMembers, cut, volume, phi) =>
      assert(nMembers == lbl.count(_._2 == c).toLong)
      assert(volume == vol(c), s"community $c volume")
      assert(cut == volume - 2 * intra.getOrElse(c, 0L), s"community $c cut")
      val denom = math.min(volume, 2 * m - volume)
      if (denom > 0)
        assert(phi.contains(cut * 1000000L / denom), s"community $c phi")
      else assert(phi.isEmpty, s"whole-graph community $c must emit NULL")
      assert(cut >= 0 && (denom == 0 || phi.get <= 1000000L),
        s"conductance outside [0,1]: $phi")
    }
    // every cut edge is counted from both sides: sum(cut) = 2 * inter
    val inter = m - intra.values.sum
    assert(rows.map(_._3).sum == 2 * inter, "global boundary accounting")
  }

  test("cm join-size: the sketch estimate replays locally, never " +
    "undercounts, and sits inside the inner-product error bound") {
    val r = RelationalQuality.qSketchJoinsize(spark, dir).collect().head
    val (n1, n2, exact, est, over, ok) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
    val lc = Tables.events(spark, dir).groupBy(col("user_id")).count()
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val rc = Tables.orders(spark, dir).groupBy(col("o_custkey")).count()
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(n1 == lc.values.sum && n2 == rc.values.sum)
    val exactWant = lc.map { case (k, c) =>
      BigInt(c) * BigInt(rc.getOrElse(k, 0L)) }.sum
    assert(BigInt(exact) == exactWant)
    def bucket(row: Int, k: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$row:$k".getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 512L
    }
    val estWant = (0 until 4).map { row =>
      val g1 = lc.groupBy { case (k, _) => bucket(row, k) }.view
        .mapValues(_.values.sum).toMap
      val g2 = rc.groupBy { case (k, _) => bucket(row, k) }.view
        .mapValues(_.values.sum).toMap
      g1.map { case (b, c) => BigInt(c) * BigInt(g2.getOrElse(b, 0L)) }.sum
    }.min
    assert(BigInt(est) == estWant, s"estimate $est != local $estWant")
    assert(est >= exact && over == est - exact && ok,
      s"CM one-sidedness or bound violated: exact=$exact est=$est")
  }

  test("pit join: every label row sees exactly the feature version " +
    "valid at its timestamp — no future leakage, no staleness") {
    val feats = Tables.orders(spark, dir).selectExpr("o_custkey",
        "1704067200 + (datediff(to_date(o_orderdate), " +
          "to_date('1970-01-01')) % 30) * 86400 + o_orderkey % 86400",
        "o_orderkey", "CAST(round(o_totalprice * 100) AS BIGINT)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byUser = feats.groupBy(_._1).view
      .mapValues(_.sortBy(f => (f._2, f._3))).toMap
    val rows = EventOps.qJoinPit(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    var nonTrivial = 0
    rows.foreach { case (_, user, tsUs, nOrders, sumCents) =>
      val visible = byUser.getOrElse(user, Array.empty[(Long, Long, Long, Long)])
        .takeWhile(_._2 * 1000000L <= tsUs)
      assert(nOrders == visible.length.toLong,
        s"user $user@$tsUs: n_orders $nOrders != ${visible.length}")
      assert(sumCents == visible.map(_._4).sum,
        s"user $user@$tsUs: cents leaked or went stale")
      val total = byUser.getOrElse(user,
        Array.empty[(Long, Long, Long, Long)]).length
      if (nOrders > 0 && nOrders < total) nonTrivial += 1
    }
    // the plant must make the join non-degenerate: many labels straddle
    // feature versions (neither zero history nor full history)
    assert(nonTrivial > rows.length / 10,
      s"only $nonTrivial/${rows.length} labels straddle feature versions")
  }

  test("anova: F and eta2 equal a local exact-moment replay") {
    val xs = Tables.customer(spark, dir)
      .selectExpr("c_mktsegment",
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val groups = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = groups.size.toLong
    val n = xs.length.toLong
    val sumT = groups.values.map { g =>
      val s = BigInt(g.sum)
      math.rint((s * s).toDouble / g.size).toLong
    }.sum
    val s = BigInt(xs.map(_._2).sum)
    val grand = math.rint((s * s).toDouble / n).toLong
    val q = groups.values.flatten.map(x => BigInt(x) * x).sum
    val ssb = (sumT - grand).toDouble
    val ssw = q.toDouble - sumT.toDouble
    val r = EventStats.qStatsAnova(spark, dir).collect().head
    assert(r.getLong(0) == k && r.getLong(1) == n)
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(math.abs(r.getDouble(2) - math.rint(f * 1e6) / 1e6) < 1e-9)
    val eta = ssb / (ssb + ssw)
    assert(math.abs(r.getDouble(3) - math.rint(eta * 1e6) / 1e6) < 1e-9)
    assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
  }

  test("balanced sampling: every class lands on the min class size and " +
    "the kept set is exactly the hash-rank prefix") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def hk(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val byLang = docs.groupBy(_._2)
    val m = byLang.values.map(_.size).min
    val rows = TextSampling.qSampleBalanced(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == byLang.size)
    rows.foreach { case (lang, before, after, selSum) =>
      assert(before == byLang(lang).size.toLong)
      assert(after == m.toLong, s"$lang: kept $after != min class $m")
      val want = byLang(lang).map(_._1).sortBy(id => (hk(id), id))
        .take(m).sum
      assert(selSum == want, s"$lang: selection drifted from hash rank")
    }
  }

  test("bootstrap: the Poisson-resampled SE replays locally and agrees " +
    "with the analytic sd/sqrt(n) within sampling noise") {
    val cents = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .selectExpr("event_id", "CAST(round(value * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def u(id: Long, b: Int): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$b".getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 1000000L + 0.5) / 1e6
    }
    val cdf = Seq(0.367879441, 0.735758882, 0.919698603, 0.981011843,
      0.996340153, 0.999405815, 0.999916758)
    val m6 = (0 until 32).map { b =>
      var num = BigInt(0); var den = 0L
      cents.foreach { case (id, c) =>
        val w = cdf.indexWhere(u(id, b) < _) match {
          case -1 => 7L; case k => k.toLong }
        num += BigInt(w) * c; den += w
      }
      math.rint(num.toDouble / den * 1e6).toLong
    }
    val sm = m6.map(BigInt(_)).sum
    val sm2 = m6.map(x => BigInt(x) * x).sum
    val seWant = math.rint(math.sqrt(
      (BigInt(32) * sm2 - sm * sm).toDouble / (32 * 31)) / 1e6 / 100.0
      * 1e6) / 1e6
    val r = EventStats.qStatsBootstrap(spark, dir).collect().head
    assert(r.getLong(0) == cents.length.toLong && r.getLong(1) == 32L)
    assert(math.abs(r.getDouble(3) - seWant) < 1e-9,
      s"bootstrap SE ${r.getDouble(3)} != local $seWant")
    // bootstrap must track the analytic SE of the mean
    val mean = cents.map(_._2).sum.toDouble / cents.length
    val sd = math.sqrt(cents.map(c =>
      (c._2 - mean) * (c._2 - mean)).sum / (cents.length - 1))
    val analytic = sd / math.sqrt(cents.length.toDouble) / 100.0
    assert(r.getDouble(3) > analytic / 2 && r.getDouble(3) < analytic * 2,
      s"bootstrap SE ${r.getDouble(3)} vs analytic $analytic")
  }

  test("did: four cells partition the purchases, the estimator replays " +
    "locally, and the hash-split design reads near zero effect") {
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id", "dayofmonth(ts) AS dom",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    def treat(uid: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val cells = purchases.groupBy(p => (treat(p._1), p._2 > 15))
      .map { case (k, ps) => k -> (ps.length.toLong, ps.map(_._3).sum) }
    assert(cells.size == 4, "all four DiD cells must be populated")
    val r = EventStats.qEventsDid(spark, dir).collect().head
    val (tpre, tpost) = (cells((true, false)), cells((true, true)))
    val (cpre, cpost) = (cells((false, false)), cells((false, true)))
    assert((r.getLong(0), r.getLong(1)) == tpre &&
      (r.getLong(2), r.getLong(3)) == tpost &&
      (r.getLong(4), r.getLong(5)) == cpre &&
      (r.getLong(6), r.getLong(7)) == cpost)
    // cells cover every purchase exactly once
    assert(Seq(tpre, tpost, cpre, cpost).map(_._1).sum ==
      purchases.length.toLong)
    def m(c: (Long, Long)): Double = c._2.toDouble / c._1
    val did = (m(tpost) - m(tpre)) - (m(cpost) - m(cpre))
    assert(math.abs(r.getDouble(8) - math.rint(did * 1e6) / 1e6) < 1e-9)
    // hash assignment is independent of value: the true effect is zero,
    // so the readout must sit inside a generous noise band (cents)
    val sd = {
      val all = purchases.map(_._3.toDouble)
      val mu = all.sum / all.length
      math.sqrt(all.map(x => (x - mu) * (x - mu)).sum / (all.length - 1))
    }
    val se = sd * math.sqrt(Seq(tpre, tpost, cpre, cpost)
      .map(c => 1.0 / c._1).sum)
    assert(math.abs(r.getDouble(8)) < 5 * se,
      s"DiD ${r.getDouble(8)} outside 5*SE=$se of the null design")
  }

  test("bleu: corpus metric equals a local clipped-precision replay of " +
    "the planted degradation") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
      .filter(_._2.length >= 2)
    def cnt(xs: Seq[String]) =
      xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def bigrams(xs: Seq[String]) =
      if (xs.length < 2) Seq.empty[String]
      else xs.sliding(2).map(p => p(0) + " " + p(1)).toSeq
    var (p1n, p1d, p2n, p2d, cl, rl) = (0L, 0L, 0L, 0L, 0L, 0L)
    docs.foreach { case (id, ws) =>
      val rep = ws.zipWithIndex.map { case (w, i) =>
        if ((i + 1 + id) % 11 == 0) "unk" else w }
      val cand = rep.zipWithIndex.collect {
        case (w, i) if (i + 1 + id) % 7 != 0 => w }
      cl += cand.length; rl += ws.length
      val (cu, ru) = (cnt(cand), cnt(ws))
      p1n += cu.map { case (g, c) => math.min(c, ru.getOrElse(g, 0L)) }.sum
      p1d += cand.length
      val (cb, rb) = (cnt(bigrams(cand)), cnt(bigrams(ws)))
      p2n += cb.map { case (g, c) => math.min(c, rb.getOrElse(g, 0L)) }.sum
      p2d += cb.values.sum
    }
    val r = TextEval.qEvalBleu(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((cl, rl, p1n, p1d, p2n, p2d)))
    val bp = if (cl < rl) math.exp(1.0 - rl.toDouble / cl) else 1.0
    val want = math.rint(bp * math.sqrt(
      (p1n.toDouble / p1d) * (p2n.toDouble / p2d)) * 1e6) / 1e6
    assert(math.abs(r.getDouble(6) - want) < 1e-9)
    // the degradation must dent every component: substitutions (p1),
    // deletion-created bigrams (p2 < p1), and length (BP < 1)
    assert(p1n < p1d && p2n.toDouble / p2d < p1n.toDouble / p1d && cl < rl)
    assert(r.getDouble(6) > 0 && r.getDouble(6) < 1)
  }

  test("lsh calibration: pair accounting is complete, the analytic curve " +
    "replays from the exact moments, and every bucket certifies") {
    val rows = Dedup.qDedupLshCalibration(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    // total pairs = |{(a,b): a anchor, a < b}| over the shingled corpus
    val ids = Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ", -1)) >= 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val wantPairs = ids.filter(_ < 50)
      .map(a => ids.count(_ > a).toLong).sum
    assert(rows.map(_._2).sum == wantPairs,
      s"pair accounting ${rows.map(_._2).sum} != $wantPairs")
    rows.foreach { case (bucket, n, sumj6, analytic6, ok) =>
      assert(bucket >= 0 && bucket <= 10 && n > 0)
      assert(ok, s"bucket $bucket failed its calibration certificate")
      // mean jaccard sits inside its own decile
      val mean = sumj6.toDouble / (n * 1e6)
      assert(mean >= bucket / 10.0 - 1e-6 && mean < (bucket + 1) / 10.0 + 1e-6)
      val want = math.rint(
        (1.0 - math.pow(1.0 - math.pow(mean, 2), 16)) * 1e6) / 1e6
      assert(math.abs(analytic6 - want) < 1e-9,
        s"bucket $bucket: analytic $analytic6 != $want")
    }
  }

  test("seasonality: per-dow means floor-divide exactly and residuals " +
    "carry only the division remainder per weekday") {
    val rows = EventOps.qEventsSeasonality(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, dow, cents, mean, resid) =>
      assert(dow >= 1 && dow <= 7)
      assert(resid == cents - mean)
    }
    rows.groupBy(_._2).foreach { case (dow, rs) =>
      val total = rs.map(_._3).sum
      val mean = rs.head._4
      assert(rs.forall(_._4 == mean), s"dow $dow: mean not constant")
      assert(mean == Math.floorDiv(total, rs.size.toLong),
        s"dow $dow: mean is not the exact floor average")
      val residSum = rs.map(_._5).sum
      assert(residSum >= 0 && residSum < rs.size.toLong,
        s"dow $dow: residuals don't reduce to the division remainder")
    }
  }

  test("ewma: the 7-term integer smoother replays locally, heads " +
    "renormalize, and the smooth stays inside the window envelope") {
    val rows = EventOps.qWindowEwma(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.nonEmpty)
    val coef = (0 to 6).map(k =>
      math.pow(3, k).toLong * math.pow(4, 6 - k).toLong)
    rows.groupBy(_._1).foreach { case (tpe, rs) =>
      val series = rs.sortBy(_._2)
      series.indices.foreach { i =>
        val hist = (0 to 6).flatMap { k =>
          if (i - k >= 0) Some((series(i - k)._3, coef(k))) else None }
        val num = hist.map { case (x, c) => BigInt(x) * c }.sum
        val den = hist.map(_._2).sum
        val want = math.rint(num.toDouble / den.toDouble * 1e6) / 1e6
        assert(math.abs(series(i)._4 - want) < 1e-9,
          s"$tpe@${series(i)._2}: ewma ${series(i)._4} != $want")
        val window = hist.map(_._1)
        assert(series(i)._4 >= window.min - 1e-6 &&
          series(i)._4 <= window.max + 1e-6)
      }
      // day 1 has no history: the smoother must equal the raw value
      assert(series.head._4 == series.head._3.toDouble)
    }
  }

  test("layout skipping: sorted zones prune most files, hashed zones " +
    "prune none, and no matched row is ever skipped") {
    val rows = Layout.qLayoutSkipping(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.map(_._1).toSeq == Seq("sorted", "hashed"))
    val Seq(sorted, hashed) = rows.toSeq
    // both layouts hold the same table and agree on the true answer
    assert(sorted._4 == hashed._4 && sorted._6 == hashed._6)
    // skipping is sound: every matched row is inside a scanned file
    rows.foreach { case (lay, nf, ns, total, scanned, matched, ratio) =>
      assert(ns < nf && scanned >= matched && scanned <= total,
        s"$lay: implausible zone accounting")
      assert(math.abs(ratio - scanned.toDouble / total) < 1e-6)
    }
    // the point of the audit: clustering prunes, hashing cannot
    assert(sorted._3 > 0, "sorted layout should skip files")
    assert(hashed._3 == 0, "hashed zones span the domain — nothing skips")
    assert(sorted._7 < hashed._7)
  }

  test("cohort ltv: curves are monotone, close at the cohort's total " +
    "purchase cents, and sizes agree with the retention cohorts") {
    val rows = EventOps.qEventsLtv(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, age, n, cum, ltv) =>
      assert(age >= 0 && n > 0 && cum >= 0)
      assert(ltv == Math.floorDiv(cum, n))
    }
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      val curve = rs.sortBy(_._2).map(_._4)
      assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
        s"$cohort: cumulative revenue decreased")
    }
    // cross-check cohort sizes against the retention query's cohorts
    val retention = EventOps.qEventsRetention(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      assert(retention(cohort) == rs.head._3,
        s"$cohort: ltv cohort size ${rs.head._3} != retention")
    }
    // terminal cumulative = straight total of that cohort's purchases
    val totals = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("d"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .join(Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0")), "user_id")
      .groupBy(col("d0").cast("string").as("cohort"))
      .agg(sum(col("cents")).as("total")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      assert(rs.maxBy(_._2)._4 == totals(cohort),
        s"$cohort: terminal LTV != total purchase cents")
    }
  }

  test("zipf fit: slope and R2 equal a local quantized regression over " +
    "the top-100 bigrams") {
    val grams = Tables.documents(spark, dir).select(col("text")).collect()
      .map(_.getString(0).split(" ", -1)).filter(_.length >= 2)
      .flatMap(ws => ws.sliding(2).map(p => p(0) + " " + p(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val top = grams.sortBy { case (g, f) => (-f, g) }.take(100)
    val pts = top.zipWithIndex.map { case ((_, f), i) =>
      (BigInt(math.rint(math.log(i + 1) * 1e9).toLong),
        BigInt(math.rint(math.log(f.toDouble) * 1e9).toLong))
    }
    val n = BigInt(pts.size)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val a = (n * sxy - sx * sy).toDouble
    val b = (n * sxx - sx * sx).toDouble
    val c = (n * syy - sy * sy).toDouble
    val r = TextEval.qTextZipf(spark, dir).collect().head
    assert(r.getLong(0) == pts.size.toLong)
    assert(r.getString(1) == top.head._1 && r.getLong(2) == top.head._2)
    assert(math.abs(r.getDouble(3) - math.rint(a / b * 1e6) / 1e6) < 1e-9,
      s"slope ${r.getDouble(3)} != local ${a / b}")
    assert(math.abs(r.getDouble(4) - math.rint(a * a / (b * c) * 1e6) / 1e6)
      < 1e-9, s"r2 ${r.getDouble(4)} != local ${a * a / (b * c)}")
    assert(r.getDouble(3) < 0, "rank-frequency slope must be negative")
    assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
  }

  test("retrieval eval: nDCG/MRR/AP rows equal a local brute-force " +
    "ranking replay with quantized terms") {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val local = emb.filter(_._1 < 50).sortBy(_._1).map { case (aId, aLab, av) =>
      val scored = emb.filter(_._1 != aId)
        .map { case (bId, bLab, bv) => (bId, bLab == aLab, cos(av, bv)) }
      val totalRel = scored.count(_._2).toLong
      val top = scored.sortBy(t => (-t._3, t._1)).take(10)
      val m10 = math.min(totalRel, 10L)
      def g9(i: Int): Long = math.rint(1e9 / (math.log(i + 1) / math.log(2))).toLong
      val dcg9 = top.zipWithIndex.collect { case ((_, true, _), i) => g9(i + 1) }.sum
      val idcg9 = (1L to m10).map(i => g9(i.toInt)).sum
      var cum = 0L
      val ap9 = top.zipWithIndex.map { case ((_, rel, _), i) =>
        if (rel) { cum += 1; math.rint(cum.toDouble / (i + 1) * 1e9).toLong }
        else 0L }.sum
      val firstRel = top.zipWithIndex.collectFirst {
        case ((_, true, _), i) => i + 1 }
      (aId, totalRel, top.count(_._2).toLong,
        if (idcg9 == 0) 0.0 else math.rint(dcg9.toDouble / idcg9 * 1e6) / 1e6,
        firstRel.map(r => math.rint(1e6 / r) / 1e6).getOrElse(0.0),
        if (m10 == 0) 0.0 else math.rint(ap9 / (m10 * 1e9) * 1e6) / 1e6)
    }
    val rows = Similarity.qEvalNdcg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(rows.length == 50)
    assert(rows.toSeq == local.toSeq,
      s"first diff: ${rows.zip(local).find(p => p._1 != p._2)}")
    rows.foreach { case (_, _, _, ndcg, mrr, ap) =>
      assert(ndcg >= 0 && ndcg <= 1 && mrr >= 0 && mrr <= 1 &&
        ap >= 0 && ap <= 1)
    }
  }

  test("ks drift: the binned two-sample statistic equals a local exact " +
    "CDF recompute and sits in [0, 1]") {
    val r = EventStats.qStatsKs(spark, dir).collect()
    assert(r.length == 1)
    val (n1, n2, ksBin, d6) =
      (r.head.getLong(0), r.head.getLong(1), r.head.getLong(2),
        r.head.getDouble(3))
    val local = Tables.events(spark, dir)
      .select(col("value"), col("event_type")).collect()
      .map(row => (math.floor(row.getDouble(0) / 5).toLong,
        row.getString(1) == "purchase"))
    val bins = local.map(_._1).distinct.sorted
    val t1 = local.count(_._2).toLong
    val t2 = local.size - t1
    var c1 = 0L; var c2 = 0L
    var best = BigInt(0); var bestBin = Long.MaxValue
    bins.foreach { b =>
      c1 += local.count(x => x._1 == b && x._2)
      c2 += local.count(x => x._1 == b && !x._2)
      val dn = (BigInt(c1) * t2 - BigInt(c2) * t1).abs
      if (dn > best) { best = dn; bestBin = b }
    }
    assert(n1 == t1 && n2 == t2)
    assert(ksBin == bestBin, s"argmax bin $ksBin != local $bestBin")
    val dLocal = math.rint(best.toDouble / (BigInt(t1) * t2).toDouble * 1e6) / 1e6
    assert(math.abs(d6 - dLocal) < 1e-9, s"D $d6 != local $dLocal")
    assert(d6 >= 0.0 && d6 <= 1.0)
  }

  test("dp release: noise replays the seeded Laplace inverse-CDF exactly, " +
    "stays within the tail bound, and the budget composes to 1.0") {
    val rows = RelationalQuality.qPrivacyDp(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (seg, nTrue, noisyN, cents, noisyC, eps) = (r.getString(0),
        r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5))
      def lap(tag: String, scale: Double): Double = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest((seg + ":" + tag).getBytes("UTF-8"))
          .take(3).map("%02x".format(_)).mkString
        val u = (java.lang.Long.parseLong(hex, 16) % 1000000L + 0.5) / 1e6
        -scale * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      }
      // exact replay (modulo the final 1e-6 rounding both sides share)
      assert(math.abs(noisyN - (nTrue + lap("n", 2.0))) < 1e-5,
        s"$seg: count noise diverged from the seeded draw")
      assert(math.abs(noisyC - (cents + lap("sum", 2200000.0))) < 1e-5,
        s"$seg: sum noise diverged from the seeded draw")
      // Laplace tail: |noise| <= scale * ln(1e6) given u's 1e-6 floor
      assert(math.abs(noisyN - nTrue) <= 2.0 * math.log(1e6) + 1e-6)
      assert(math.abs(noisyC - cents) <= 2200000.0 * math.log(1e6) + 1e-6)
      // the release never publishes the raw statistic bit-for-bit
      assert(noisyN != nTrue.toDouble && noisyC != cents.toDouble)
      assert(eps == 1.0)
    }
  }

  test("gdpr forget: purge counts reconcile per table, the residual " +
    "re-derived from the purged output is zero, and the forget list is " +
    "exactly the md5-parity customers") {
    val rows = RelationalQuality.qGdprForget(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq("customer", "events", "orders"))
    rows.foreach { case (tbl, n, purged, kept, residual) =>
      assert(purged + kept == n, s"$tbl: purge does not partition the table")
      assert(residual == 0L, s"$tbl: forgotten ids survived the purge")
      assert(purged > 0L, s"$tbl: empty forget audit proves nothing")
    }
    // the customer row's purge count equals a local replay of the parity
    val forgetLocal = Tables.customer(spark, dir).select(col("c_custkey"))
      .collect().map(_.getLong(0)).filter { id =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .take(3).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) % 20L == 0L
      }.toSet
    assert(rows.head._3 == forgetLocal.size.toLong,
      s"customer purge ${rows.head._3} != local forget ${forgetLocal.size}")
  }

  test("markov: transition counts replay locally, rows are stochastic " +
    "(ppm floors sum within |types| of 1e6), and the per-state entropy " +
    "equals the local quantized-term sum") {
    val seq = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
    val localTrans = seq.groupBy(_._1).values.flatMap { es =>
      val s = es.sortBy(e => (e._2.getTime, e._2.getNanos, e._3)).map(_._4)
      s.zip(s.drop(1))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = EventStats.qEventsMarkov(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(r => (r._1, r._2) -> r._3).toMap == localTrans)
    rows.groupBy(_._1).foreach { case (from, rs) =>
      val total = rs.head._4
      assert(rs.map(_._3).sum == total, s"$from: counts != total")
      // floor-ppm probabilities lose < 1 ppm per row
      val ppmSum = rs.map(_._5).sum
      assert(ppmSum > 1000000L - rs.length && ppmSum <= 1000000L,
        s"$from: ppm sum $ppmSum not stochastic")
      val hLocal = rs.map { r =>
        val p = r._3.toDouble / total
        math.rint(-p * (math.log(p) / math.log(2)) * 1e9).toLong
      }.sum
      assert(rs.forall(_._6 == hLocal), s"$from: entropy != local $hLocal")
      // H(next|from) bounded by log2 |types| for a 5-type alphabet
      assert(hLocal >= 0L && hLocal <= math.rint(
        math.log(5.0) / math.log(2) * 1e9).toLong + rs.length)
    }
  }

  test("welch t: moments replay locally, the statistic matches the " +
    "closed form, and the null hash-split design reads |t| small with " +
    "df inside the Welch bounds") {
    val cents = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .selectExpr("user_id", "CAST(round(value * 100) AS BIGINT) c")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def treat(uid: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(uid.toString.getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 2 == 0
    }
    val (a, b) = cents.partition(p => treat(p._1))
    def mom(xs: Array[(Long, Long)]) = {
      val n = xs.length.toLong
      val s = xs.map(_._2).sum
      val q = xs.map(x => BigInt(x._2) * x._2).sum
      val v = (BigInt(n) * q - BigInt(s) * s).toDouble / (n * (n - 1)).toDouble
      (n, s, v)
    }
    val ((nt, st, vt), (nc, sc, vc)) = (mom(a), mom(b))
    val r = EventStats.qStatsTtest(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((nt, nc, st, sc)))
    assert(r.getDouble(4) == math.rint(vt * 1e6) / 1e6 &&
      r.getDouble(5) == math.rint(vc * 1e6) / 1e6)
    val se2 = vt / nt + vc / nc
    val t = (st.toDouble / nt - sc.toDouble / nc) / math.sqrt(se2)
    assert(math.abs(r.getDouble(6) - math.rint(t * 1e6) / 1e6) < 1e-9)
    val df = se2 * se2 / ((vt / nt) * (vt / nt) / (nt - 1) +
      (vc / nc) * (vc / nc) / (nc - 1))
    assert(math.abs(r.getDouble(7) - math.rint(df * 1e6) / 1e6) < 1e-9)
    // hash assignment is independent of value ⇒ the true effect is zero
    assert(math.abs(r.getDouble(6)) < 5.0,
      s"null design |t|=${r.getDouble(6)} implausibly large")
    // Welch df lies between min(n)-1 and the pooled n_t+n_c-2
    assert(df >= math.min(nt, nc).toDouble - 1 && df <= (nt + nc - 2).toDouble)
  }

  test("m4: per-pixel first/last/min/max equal a local replay and " +
    "the cells partition the filtered stream") {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .selectExpr("event_type", "unix_micros(ts) AS eu", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lo = ev.map(_._2).min
    val hi = ev.map(_._2).max + 1
    val local = ev.groupBy(e => (e._1, (e._2 - lo) * 512 / (hi - lo)))
      .map { case (k, es) =>
        val sorted = es.sortBy(e => (e._2, e._3))
        k -> (es.length.toLong, es.map(_._4).min, es.map(_._4).max,
          sorted.head._2, sorted.head._4, sorted.last._2, sorted.last._4)
      }
    val rows = EventStats.qSeriesM4(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8)))
    assert(rows.map(_._1).toSet == local.keySet)
    rows.foreach { case (k, got) =>
      assert(got == local(k), s"cell $k: $got != ${local(k)}") }
    assert(rows.map(_._2._1).sum == ev.length.toLong,
      "cells must partition the filtered stream")
    // M4 envelope: first/last values lie inside [min, max] per cell
    rows.foreach { case (k, (_, mn, mx, _, f, _, l)) =>
      assert(f >= mn && f <= mx && l >= mn && l <= mx, s"envelope $k") }
  }

  test("spearman: rho equals a local sort-based tie-average replay " +
    "and the score-length dependence is real on this corpus") {
    val docs = Tables.documents(spark, dir).select(col("text")).collect()
      .map { r =>
        val ws = r.getString(0).split(" ", -1)
        val score = ws.map { w =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(w.getBytes("UTF-8")).take(3)
            .map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hex, 16) % 4096 % 101 - 50
        }.sum
        (score * 10000L / (ws.length * 50L), ws.length.toLong)
      }
    def ranks(xs: Array[Long]): Array[Double] = {
      val sorted = xs.zipWithIndex.sortBy(_._1)
      val out = new Array[Double](xs.length)
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        val avg = (i + j + 1) / 2.0 // mean of ranks i+1 .. j
        (i until j).foreach(k => out(sorted(k)._2) = avg)
        i = j
      }
      out
    }
    val (rm, rw) = (ranks(docs.map(_._1)), ranks(docs.map(_._2)))
    val n = docs.length
    val (mr, mw) = (rm.sum / n, rw.sum / n)
    val num = rm.zip(rw).map { case (a, b) => (a - mr) * (b - mw) }.sum
    val den = math.sqrt(rm.map(a => (a - mr) * (a - mr)).sum *
      rw.map(b => (b - mw) * (b - mw)).sum)
    val want = num / den
    val r = TextEval.qEvalSpearman(spark, dir).collect().head
    assert(r.getLong(0) == n.toLong)
    assert(math.abs(r.getDouble(1) - want) < 1e-6,
      s"spearman ${r.getDouble(1)} != local $want")
    assert(math.abs(r.getDouble(1)) <= 1.0)
    // ties exist in both variables, so the tie-average path is exercised
    assert(docs.map(_._1).distinct.length < n &&
      docs.map(_._2).distinct.length < n, "no ties: spec is vacuous")
  }

  test("mmr: the greedy trajectory equals a local integer replay and " +
    "diversity actually rewrites the pure-relevance ranking somewhere") {
    val vecs = Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x AS DOUBLE)) v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val byId = vecs.toMap
    def cos6(a: Array[Double], b: Array[Double]): Long = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      val c = BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.rint(c * 1e6).toLong
    }
    val anchors = vecs.map(_._1).filter(_ < 50L).sorted
    val local = anchors.flatMap { a =>
      val av = byId(a)
      val top10 = vecs.filter(_._1 != a)
        .map { case (b, bv) => (b, cos6(av, bv)) }
        .sortBy { case (b, r) => (-r, b) }.take(10)
      val sel = scala.collection.mutable.ArrayBuffer(top10.head)
      var scores = scala.collection.mutable.ArrayBuffer(
        top10.head._2 * 10L)
      while (sel.length < 5) {
        val rest = top10.filterNot(c => sel.exists(_._1 == c._1))
        val best = rest.map { case (b, r) =>
          val ms = sel.map(s => cos6(byId(b), byId(s._1))).max
          (b, r, r * 7L - ms * 3L)
        }.sortBy { case (b, _, sc) => (-sc, b) }.head
        sel += ((best._1, best._2)); scores += best._3
      }
      sel.zip(scores).zipWithIndex.map { case (((b, r), sc), i) =>
        (a, b, i + 1, r, sc) }
    }
    val rows = Similarity.qAnnMmr(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        math.rint(r.getDouble(3) * 1e6).toLong, r.getLong(4)))
    assert(rows.length == local.length)
    rows.zip(local).foreach { case (g, w) =>
      assert((g._1, g._2, g._3, g._4, g._5) == w,
        s"mmr row $g != local $w")
    }
    // non-vacuity: MMR must deviate from pure relevance for some anchor
    val deviates = anchors.exists { a =>
      val byRel = local.filter(_._1 == a).map(_._2)
      val pure = vecs.filter(_._1 != a)
        .map { case (b, bv) => (b, cos6(byId(a), bv)) }
        .sortBy { case (b, r) => (-r, b) }.take(5).map(_._1)
      byRel != pure
    }
    assert(deviates, "MMR == pure top-5 everywhere: diversity vacuous")
  }

  test("linreg: betas equal a BigInt-Cramer replay of the normal " +
    "equations and R^2 lies in [0,1] with SSE <= SST") {
    val rows = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .selectExpr("hour(ts) AS x1",
        "CAST(weekday(ts) + 1 >= 6 AS INT) AS x2",
        "CAST(round(value * 100) AS BIGINT) AS y")
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong,
        r.getLong(2)))
    val n = rows.length.toLong
    def S(f: ((Long, Long, Long)) => Long): BigInt =
      rows.map(x => BigInt(f(x))).sum
    val (s1, s2, s11, s12, s22) = (S(_._1), S(_._2),
      S(t => t._1 * t._1), S(t => t._1 * t._2), S(t => t._2 * t._2))
    val (sy, s1y, s2y, syy) = (S(_._3), S(t => t._1 * t._3),
      S(t => t._2 * t._3), S(t => t._3 * t._3))
    def det3(m: Seq[BigInt]): BigInt =
      m(0) * (m(4) * m(8) - m(5) * m(7)) -
        m(1) * (m(3) * m(8) - m(5) * m(6)) +
        m(2) * (m(3) * m(7) - m(4) * m(6))
    val A = Seq(BigInt(n), s1, s2, s1, s11, s12, s2, s12, s22)
    val d = det3(A)
    val b0 = det3(Seq(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)).toDouble /
      d.toDouble
    val b1 = det3(Seq(BigInt(n), sy, s2, s1, s1y, s12, s2, s2y, s22))
      .toDouble / d.toDouble
    val b2 = det3(Seq(BigInt(n), s1, sy, s1, s11, s1y, s2, s12, s2y))
      .toDouble / d.toDouble
    val r = EventStats.qStatsLinreg(spark, dir).collect().head
    assert(r.getLong(0) == n && r.getDouble(1) == d.toDouble)
    assert(r.getDouble(2) == math.rint(b0 / 100.0 * 1e6) / 1e6 &&
      r.getDouble(3) == math.rint(b1 / 100.0 * 1e6) / 1e6 &&
      r.getDouble(4) == math.rint(b2 / 100.0 * 1e6) / 1e6)
    val sse = syy.toDouble -
      (b0 * sy.toDouble + b1 * s1y.toDouble + b2 * s2y.toDouble)
    val sst = syy.toDouble - sy.toDouble * sy.toDouble / n
    assert(r.getDouble(5) == math.rint((1.0 - sse / sst) * 1e6) / 1e6)
    assert(sse >= 0 && sse <= sst && r.getDouble(5) >= 0 &&
      r.getDouble(5) <= 1)
    // normal equations hold at the solution (scaled residuals ~ 0)
    val e1 = b0 * n + b1 * s1.toDouble + b2 * s2.toDouble - sy.toDouble
    assert(math.abs(e1) < 1e-6 * math.abs(sy.toDouble),
      s"normal equation residual $e1")
  }

  test("concurrency: per-hour open/peak equal a sequential global sweep " +
    "with departures before arrivals, and every session closes") {
    val events = Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_micros(ts)").as("eu"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sessions = events.groupBy(_._1).values.flatMap { es =>
      val ts = es.map(_._2).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = ts.head; var prev = ts.head
      ts.drop(1).foreach { t =>
        if (t - prev >= 600000000L) { out += ((start, prev + 600000000L))
          start = t }
        prev = t
      }
      out += ((start, prev + 600000000L))
      out.toSeq
    }.toSeq
    // sequential sweep: at equal instants departures apply first
    val bounds = (sessions.map(s => (s._1, 1)) ++
      sessions.map(s => (s._2, -1))).sortBy(b => (b._1, b._2))
    var v = 0L
    val hourly = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Long, Long, Long, Long)] // starts, ends, open, peak
    bounds.foreach { case (t, delta) =>
      val hr = t / 3600000000L
      val (st, en, op, pk) = hourly.getOrElseUpdate(hr, (0L, 0L, v, v))
      v += delta
      hourly(hr) = (st + (if (delta > 0) 1 else 0),
        en + (if (delta < 0) 1 else 0), op, math.max(pk, v))
    }
    assert(v == 0L, "sweep must end with every session closed")
    val rows = EventOps.qEventsConcurrency(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == hourly.keys.toSeq.sorted)
    rows.foreach { case (hr, got) =>
      assert(got == hourly(hr), s"hour $hr: $got != local ${hourly(hr)}")
    }
    assert(rows.map(_._2._1).sum == sessions.length.toLong &&
      rows.map(_._2._2).sum == sessions.length.toLong)
    // non-vacuity: the corpus must actually overlap somewhere
    assert(rows.map(_._2._4).max > 1L, "no concurrency: spec is vacuous")
  }

  test("lttb: endpoints pin the series extremes and each interior " +
    "bucket selects the exact-integer max-area point among its members") {
    val days = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
      .collect().map(r => (r.getDate(0), r.getLong(1)))
      .sortBy(_._1.getTime)
    val d0 = days.head._1
    def dayIdx(d: java.sql.Date): Long =
      ((d.getTime - d0.getTime) / 86400000L)
    val nd = days.length.toLong
    val pts = days.map { case (d, y) =>
      (d, y, dayIdx(d), math.min(dayIdx(d) * 8 / nd, 7L)) }
    val bk = pts.groupBy(_._4).view.mapValues { xs =>
      (xs.length.toLong, xs.map(_._3).sum, xs.map(_._2).sum) }.toMap
    val rows = EventStats.qSeriesLttb(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (0L to 7L))
    assert(rows.head._2 == days.head._1 && rows.last._2 == days.last._1,
      "first/last points must stay pinned")
    rows.filter(r => r._1 > 0 && r._1 < 7).foreach { case (b, selD, selY) =>
      val (nl, sxl, syl) = bk(b - 1)
      val (nr, sxr, syr) = bk(b + 1)
      def area2(x: Long, y: Long): BigInt =
        ((BigInt(sxl) * nr - BigInt(sxr) * nl) * (BigInt(y) * nl - syl) -
          (BigInt(sxl) - BigInt(x) * nl) * (BigInt(syr) * nl -
            BigInt(syl) * nr)).abs
      val best = pts.filter(_._4 == b)
        .map(p => (area2(p._3, p._2), -p._3, p._1, p._2))
        .maxBy(t => (t._1, t._2))
      assert(best._3 == selD && best._4 == selY,
        s"bucket $b: spark ($selD,$selY) != local argmax (${best._3},${best._4})")
    }
  }

  test("lttb: a gappy series with EMPTY interior buckets emits NULL " +
    "area for neighbor-less buckets and zero ONLY at the endpoints") {
    // 6 day-rows across a 100-day span: bucket index floors x*8/6 so
    // only buckets {0,1,7} are occupied — bucket 1's RIGHT neighbor
    // (bucket 2) is empty, making its cross product NULL. The old
    // coalesce(area, 0) emission turned that NULL into 0 while the
    // oracle's CASE kept it NULL — the exact data-dependent asymmetry
    // that cannot arise on the dense sandbox series.
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-lttb-gappy").toString
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    Seq(0, 1, 50, 97, 98, 99)
      .map(i => (new java.sql.Timestamp(day0.getTime + i * 86400000L),
        "purchase", (i + 1) * 10.0, i.toLong, i.toLong))
      .toDF("ts", "event_type", "value", "event_id", "user_id")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = EventStats.qSeriesLttb(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 7L),
      s"occupied buckets: ${rows.map(_._1).mkString(",")}")
    val byB = rows.map(r => r._1 -> r._3).toMap
    assert(byB(0L) == "0" && byB(7L) == "0",
      "endpoint buckets pin area to the literal zero string")
    assert(byB(1L) == null,
      "an interior bucket with an empty neighbor must keep its NULL " +
        "area — zeroing it diverges from the oracle's CASE")
  }

  test("graft.obs Probe recorder: a batch pass counts jobs, stages and " +
    "tasks and carries the planning-phase ms") {
    val rec = new graft.obs.Probe.Recorder(spark)
    val pass = try rec.run("q01_pricing_summary", dir, "pass1") finally rec.close()
    assert(pass.jobs >= 1 && pass.stages >= 1 && pass.tasks >= 1, pass.line)
    assert(Seq("analysis", "optimization", "planning").forall(pass.phaseMs.contains),
      s"${pass.phaseMs}")
    assert(pass.maxTaskMs >= pass.medianTaskMs && pass.oneTaskStages <= pass.stages,
      pass.line)
    assert(pass.batches.isEmpty, pass.line)
  }

  test("graft.obs Probe recorder: a streaming query's pass carries its " +
    "micro-batch records") {
    val rec = new graft.obs.Probe.Recorder(spark)
    val pass = try rec.run("q_stream_join", dir, "pass1") finally rec.close()
    assert(pass.batches.nonEmpty, pass.line)
    assert(pass.batches.map(_.inputRows).sum > 0, pass.batches.map(_.line))
    assert(pass.batches.forall(_.durationMs.contains("triggerExecution")),
      pass.batches.map(_.line))
    assert(pass.batches.exists(_.state.nonEmpty), "the join holds state")
  }

  test("graft.obs Probe --plans writes explain(\"formatted\") per query") {
    val out = java.nio.file.Files.createTempDirectory("graft-probe-plans")
    Console.withOut(new java.io.ByteArrayOutputStream)(graft.obs.Probe.run(spark,
      Seq(dir, "--plans", out.toString, "t", "q01_pricing_summary")))
    val txt = java.nio.file.Files.readString(out.resolve("q01_pricing_summary_t.txt"))
    assert(txt.contains("Physical Plan"), txt.take(300))
  }
}
