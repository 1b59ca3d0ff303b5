package graft

import org.apache.spark.sql.functions._

/** Round-14 wave-2 queries vs independent driver recomputes: Ljung–Box
  * against a literal textbook ACF loop (centered products, not the
  * expanded-moment form the query uses) and von Neumann against a
  * direct successive-difference loop, plus the declared
  * observation-index-grain property (a calendar gap closes ranks:
  * lag 1 pairs observations, not days).
  */
class Round14bSpec extends SparkSuite {

  private def dailySeries(dir: String): Map[String, Array[Long]] =
    Tables.table(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("event_type"), col("day"))
      .collect()
      .map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toArray).toMap

  /** Textbook Ljung–Box: centered-product ACF, m lags. */
  private def lbRef(x: Array[Long], m: Int): Option[Double] = {
    val n = x.length
    if (n <= m) return None
    val mean = x.sum.toDouble / n
    val den = x.map(v => (v - mean) * (v - mean)).sum
    if (!(den > 0)) return None
    val q = (1 to m).map { k =>
      val rk = (k until n).map(t => (x(t) - mean) * (x(t - k) - mean)).sum / den
      rk * rk / (n - k)
    }.sum * n * (n + 2)
    Some(q)
  }

  /** Direct von Neumann ratio + declared-moment z. */
  private def vnRef(x: Array[Long]): Option[(Double, Double)] = {
    val n = x.length
    if (n < 3) return None
    val mean = x.sum.toDouble / n
    val den = x.map(v => (v - mean) * (v - mean)).sum
    if (!(den > 0)) return None
    val num = (1 until n).map(t => (x(t) - x(t - 1)).toDouble).map(d => d * d).sum
    val vn = num / den
    val z = (vn - 2) / math.sqrt(4.0 * (n - 2) / ((n - 1.0) * (n + 1)))
    Some((vn, z))
  }

  test("q_x_ljung_box matches a textbook centered-product recompute") {
    val got = SparkEntry.queries("q_x_ljung_box")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    val series = dailySeries(sfDir)
    assert(got.nonEmpty && got.keySet == series.keySet)
    series.foreach { case (t, x) =>
      (lbRef(x, 7), got(t)) match {
        case (Some(exp), Some(q)) => assert(math.abs(exp - q) < 1e-5, s"type $t")
        case (None, None)         => ()
        case other                => fail(s"type $t guard mismatch: $other")
      }
    }
  }

  test("q_x_von_neumann matches a direct successive-difference recompute") {
    val got = SparkEntry.queries("q_x_von_neumann")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    dailySeries(sfDir).foreach { case (t, x) =>
      (vnRef(x), got(t)) match {
        case (Some((vn, z)), (Some(gv), Some(gz))) =>
          assert(math.abs(vn - gv) < 1e-5 && math.abs(z - gz) < 1e-5, s"type $t")
        case (None, (None, None)) => ()
        case other                => fail(s"type $t guard mismatch: $other")
      }
    }
  }

  /** Textbook KPSS: demean, literal partial sums, centered-product
    * autocovariances, Bartlett weights — none of the query's
    * prefix-sum/moment expansions.
    */
  private def kpssRef(x: Array[Long], l: Int): Option[(Double, Double)] = {
    val n = x.length
    if (n <= l) return None
    val mean = x.sum.toDouble / n
    val e = x.map(_ - mean)
    val g = (0 to l).map(j => (j until n).map(t => e(t) * e(t - j)).sum / n)
    val lrv = g(0) + 2 * (1 to l).map(j => (1.0 - j.toDouble / (l + 1)) * g(j)).sum
    if (!(lrv > 0)) return None
    val s = e.scanLeft(0.0)(_ + _).drop(1)
    Some((lrv, s.map(v => v * v).sum / (n.toDouble * n) / lrv))
  }

  /** Textbook D'Agostino–Pearson: central moments by direct centered
    * sums, published Z1/Z2 transforms.
    */
  private def dagostinoRef(x: Array[Long]): Option[(Double, Double, Double)] = {
    val n = x.length
    if (n < 20) return None
    val nd = n.toDouble
    val mean = x.sum.toDouble / n
    def cm(p: Int) = x.map(v => math.pow(v - mean, p)).sum / n
    val (m2, m3, m4) = (cm(2), cm(3), cm(4))
    if (!(m2 > 0)) return None
    val g1 = m3 / math.pow(m2, 1.5)
    val b2 = m4 / (m2 * m2)
    val y = g1 * math.sqrt((nd + 1) * (nd + 3) / (6 * (nd - 2)))
    val beta2 = 3 * (nd * nd + 27 * nd - 70) * (nd + 1) * (nd + 3) /
      ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9))
    val w2 = math.sqrt(2 * (beta2 - 1)) - 1
    val delta = 1 / math.sqrt(math.log(math.sqrt(w2)))
    val alpha = math.sqrt(2 / (w2 - 1))
    val z1 = delta * math.log(y / alpha + math.sqrt(y / alpha * (y / alpha) + 1))
    val eb2 = 3 * (nd - 1) / (nd + 1)
    val vb2 = 24 * nd * (nd - 2) * (nd - 3) / ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5))
    val xx = (b2 - eb2) / math.sqrt(vb2)
    val sb1 = 6 * (nd * nd - 5 * nd + 2) / ((nd + 7) * (nd + 9)) *
      math.sqrt(6 * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3)))
    val aa = 6 + 8 / sb1 * (2 / sb1 + math.sqrt(1 + 4 / (sb1 * sb1)))
    val base = (1 - 2 / aa) / (1 + xx * math.sqrt(2 / (aa - 4)))
    val cbrt = if (base >= 0) math.pow(base, 1.0 / 3) else -math.pow(-base, 1.0 / 3)
    val z2 = ((1 - 2 / (9 * aa)) - cbrt) / math.sqrt(2 / (9 * aa))
    Some((z1, z2, z1 * z1 + z2 * z2))
  }

  test("q_x_kpss matches a textbook partial-sum recompute") {
    val got = SparkEntry.queries("q_x_kpss")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    dailySeries(sfDir).foreach { case (t, x) =>
      (kpssRef(x, 7), got(t)) match {
        case (Some((_, exp)), Some(k)) => assert(math.abs(exp - k) < 1e-5, s"type $t")
        case (None, None)              => ()
        case other                     => fail(s"type $t guard mismatch: $other")
      }
    }
  }

  test("q_x_dagostino matches a textbook direct-moment recompute") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toArray).toMap
    val got = SparkEntry.queries("q_x_dagostino")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(4)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got.keySet == docs.keySet && got.values.exists(_.isDefined))
    docs.foreach { case (s, x) =>
      (dagostinoRef(x), got(s)) match {
        case (Some((_, _, exp)), Some(k2)) =>
          assert(math.abs(exp - k2) < 1e-4, s"source $s: $exp vs $k2")
        case (None, None) => ()
        case other        => fail(s"source $s guard mismatch: $other")
      }
    }
  }

  /** Pooled midranks by direct sort (per-observation, not the
    * queries' value-grain windows): value -> midrank.
    */
  private def midranks(all: Seq[Long]): Map[Long, Double] = {
    val sorted = all.sorted
    sorted.zipWithIndex.groupBy(_._1).view
      .mapValues(g => g.map(_._2 + 1).sum.toDouble / g.size).toMap
  }

  private def docsBySource(dir: String): Map[String, Array[Long]] =
    Tables.table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toArray).toMap

  test("q_x_cucconi matches a direct-sort midrank recompute") {
    val docs = docsBySource(sfDir)
    val all = docs.values.flatten.toSeq
    val rk = midranks(all)
    val nN = all.size.toDouble
    val got = SparkEntry.queries("q_x_cucconi")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    docs.foreach { case (s, x) =>
      val n1 = x.length.toDouble
      val n2 = nN - n1
      val den = math.sqrt(n1 * n2 * (nN + 1) * (2 * nN + 1) * (8 * nN + 11) / 5)
      val u = (6 * x.map(v => rk(v) * rk(v)).sum - n1 * (nN + 1) * (2 * nN + 1)) / den
      val v = (6 * x.map(v => (nN + 1 - rk(v)) * (nN + 1 - rk(v))).sum -
        n1 * (nN + 1) * (2 * nN + 1)) / den
      val rho = 2 * (nN * nN - 4) / ((2 * nN + 1) * (8 * nN + 11)) - 1
      val c = (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
      val (gu, gv, gc) = got(s)
      assert(math.abs(u - gu) < 1e-5 && math.abs(v - gv) < 1e-5 &&
        math.abs(c - gc) < 1e-5, s"source $s: ($u,$v,$c) vs ($gu,$gv,$gc)")
    }
  }

  test("q_x_lepage matches a direct-sort midrank recompute") {
    val docs = docsBySource(sfDir)
    val all = docs.values.flatten.toSeq
    val rk = midranks(all)
    val nN = all.size.toDouble
    val got = SparkEntry.queries("q_x_lepage")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    docs.foreach { case (s, x) =>
      val n1 = x.length.toDouble
      val w = x.map(rk).sum
      val zw = (w - n1 * (nN + 1) / 2) / math.sqrt(n1 * (nN - n1) * (nN + 1) / 12)
      val a = x.map(v => math.min(rk(v), nN + 1 - rk(v))).sum
      val (ea, va) =
        if (nN.toLong % 2 == 0)
          (n1 * (nN + 2) / 4,
            n1 * (nN - n1) * (nN + 2) * (nN - 2) / (48 * (nN - 1)))
        else
          (n1 * (nN + 1) * (nN + 1) / (4 * nN),
            n1 * (nN - n1) * (nN + 1) * (3 + nN * nN) / (48 * nN * nN))
      val za = (a - ea) / math.sqrt(va)
      val l = zw * zw + za * za
      assert(math.abs(l - got(s)) < 1e-5, s"source $s: $l vs ${got(s)}")
    }
  }

  test("q_x_dunn matches a direct-sort midrank recompute") {
    val docs = docsBySource(sfDir)
    val all = docs.values.flatten.toSeq
    val rk = midranks(all)
    val nN = all.size.toDouble
    val tsum = all.groupBy(identity).values
      .map(g => g.size.toDouble).map(t => t * t * t - t).sum
    val se2base = nN * (nN + 1) / 12 - tsum / (12 * (nN - 1))
    val got = SparkEntry.queries("q_x_dunn")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val srcs = docs.keys.toSeq.sorted
    for (a <- srcs; b <- srcs if a < b) {
      val (xa, xb) = (docs(a), docs(b))
      val z = (xa.map(rk).sum / xa.length - xb.map(rk).sum / xb.length) /
        math.sqrt(se2base * (1.0 / xa.length + 1.0 / xb.length))
      assert(math.abs(z - got((a, b))) < 1e-5, s"pair ($a,$b)")
    }
  }

  test("q_x_brunner_munzel matches a per-observation recompute") {
    val docs = docsBySource(sfDir)
    val all = docs.values.flatten.toSeq
    val rkAll = midranks(all)
    val got = SparkEntry.queries("q_x_brunner_munzel")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    docs.foreach { case (s, x) =>
      val y = docs.filter(_._1 != s).values.flatten.toArray
      val (n1, n2) = (x.length.toDouble, y.length.toDouble)
      val rkX = midranks(x.toSeq)
      val rkY = midranks(y.toSeq)
      val m1 = x.map(rkAll).sum / n1
      val m2 = y.map(rkAll).sum / n2
      val v1 = x.map(v => math.pow(rkAll(v) - rkX(v) - m1 + (n1 + 1) / 2, 2)).sum / (n1 - 1)
      val v2 = y.map(v => math.pow(rkAll(v) - rkY(v) - m2 + (n2 + 1) / 2, 2)).sum / (n2 - 1)
      val w = n1 * n2 * (m2 - m1) / (n1 + n2) / math.sqrt(n1 * v1 + n2 * v2)
      val pHat = (m2 - (n2 + 1) / 2) / n1
      val (gp, gw) = got(s)
      assert(math.abs(pHat - gp) < 1e-5 && math.abs(w - gw) < 1e-5,
        s"source $s: ($pHat,$w) vs ($gp,$gw)")
    }
  }

  test("q_x_fleiss_kappa matches a literal varying-raters recompute") {
    val cells = Tables.table(spark, sfDir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2)))
    val byDay = cells.groupBy(_._1).filter(_._2.map(_._3).sum >= 2)
    val pis = byDay.toSeq.sortBy(_._1).map { case (_, rows) =>
      val ni = rows.map(_._3).sum.toDouble
      (rows.map(r => r._3.toDouble * r._3).sum - ni) / (ni * (ni - 1))
    }
    val pbar = pis.sum / pis.size
    val nn = byDay.values.flatten.map(_._3).sum.toDouble
    val pj = byDay.values.flatten.groupBy(_._2).view
      .mapValues(_.map(_._3).sum / nn).values
    val pe = pj.map(p => p * p).sum
    val kappa = (pbar - pe) / (1 - pe)
    val got = SparkEntry.queries("q_x_fleiss_kappa")(spark, sfDir).collect()(0)
    assert(got.getLong(0) == byDay.size &&
      math.abs(got.getDouble(1) - pbar) < 1e-5 &&
      math.abs(got.getDouble(3) - kappa) < 1e-5)
  }

  test("q_x_cronbach matches a literal spine recompute (zeros filled)") {
    val dc = dailyWithDaysAll(sfDir)
    val days = dc.values.flatten.map(_._1).toSet.toSeq.sorted
    val k = dc.size
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)
    }
    val svi = dc.toSeq.sortBy(_._1).map { case (_, rows) =>
      val byDay = rows.toMap
      variance(days.map(d => byDay.getOrElse(d, 0L).toDouble))
    }.sum
    val totals = days.map(d => dc.values.flatten.filter(_._1 == d).map(_._2).sum.toDouble)
    val alpha = k.toDouble / (k - 1) * (1 - svi / variance(totals))
    val got = SparkEntry.queries("q_x_cronbach")(spark, sfDir).collect()(0)
    assert(got.getLong(0) == k && got.getLong(1) == days.size &&
      math.abs(got.getDouble(3) - alpha) < 1e-5,
      s"$alpha vs ${got.getDouble(3)}")
  }

  private def dailyWithDaysAll(dir: String): Map[String, Array[(String, Long)]] =
    Tables.table(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), (r.get(1).toString, r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  test("q_x_gamma / q_x_somers_d match a per-document pair recompute") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("source"), floor(col("n_chars") / 500).cast("long"),
        floor(size(split(col("text"), " ")) / 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    val gotG = SparkEntry.queries("q_x_gamma")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    val gotS = SparkEntry.queries("q_x_somers_d")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(4)).map(_.asInstanceOf[Double]))
      .toMap
    def check(exp: Option[Double], got: Option[Double], tag: String): Unit =
      (exp, got) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-5, tag)
        case (None, None)       => ()
        case other              => fail(s"$tag guard mismatch: $other")
      }
    docs.foreach { case (s, xs) =>
      var (c, dd, ty) = (0L, 0L, 0L)
      for (i <- xs.indices; j <- (i + 1) until xs.length) {
        val ((xa, ya), (xb, yb)) = (xs(i), xs(j))
        if ((xa < xb && ya < yb) || (xa > xb && ya > yb)) c += 1
        else if ((xa < xb && ya > yb) || (xa > xb && ya < yb)) dd += 1
        else if (ya == yb && xa != xb) ty += 1
      }
      check(if (c + dd > 0) Some((c - dd).toDouble / (c + dd)) else None,
        gotG(s), s"gamma $s")
      check(if (c + dd + ty > 0) Some((c - dd).toDouble / (c + dd + ty)) else None,
        gotS(s), s"somers $s")
    }
  }

  test("q_x_cox_stuart matches a literal half-pairing recompute") {
    val got = SparkEntry.queries("q_x_cox_stuart")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    dailySeries(sfDir).foreach { case (t, x) =>
      val c = (x.length + 1) / 2 // ceil(n/2)
      val pairs = (0 until x.length - c).map(i => (x(i), x(i + c)))
      val sp = pairs.count(p => p._2 > p._1).toLong
      val sm = pairs.count(p => p._2 < p._1).toLong
      val z = if (sp + sm > 0)
        Some((2.0 * sp - (sp + sm)) / math.sqrt((sp + sm).toDouble)) else None
      val (gp, gm, gz) = got(t)
      assert(gp == sp && gm == sm, s"type $t counts")
      (z, gz) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-5, s"type $t z")
        case (None, None)       => ()
        case other              => fail(s"type $t guard: $other")
      }
    }
  }

  test("q_x_mk_seasonal matches a literal within-season recompute") {
    val dc = dailyWithDaysAll(sfDir)
    val got = SparkEntry.queries("q_x_mk_seasonal")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    dc.foreach { case (t, rows) =>
      val bySlot = rows.groupBy { case (day, _) =>
        java.time.LocalDate.parse(day).toEpochDay % 7
      }
      var s = 0L
      var vn = 0L
      var vt = 0L
      bySlot.values.foreach { g =>
        val sorted = g.sortBy(_._1).map(_._2)
        for (i <- sorted.indices; j <- (i + 1) until sorted.length)
          s += java.lang.Long.signum(sorted(j) - sorted(i))
        val ns = sorted.length.toLong
        vn += ns * (ns - 1) * (2 * ns + 5)
        sorted.groupBy(identity).values.map(_.length.toLong)
          .foreach(tt => vt += tt * (tt - 1) * (2 * tt + 5))
      }
      val z = if (vn - vt > 0) {
        val num = if (s > 0) s - 1 else if (s < 0) s + 1 else 0L
        Some(num / math.sqrt((vn - vt) / 18.0))
      } else None
      val (gs, gz) = got(t)
      assert(gs == s, s"type $t S: $s vs $gs")
      (z, gz) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-5, s"type $t z")
        case (None, None)       => ()
        case other              => fail(s"type $t guard: $other")
      }
    }
  }

  test("q_x_wilcoxon_signed matches a literal paired-midrank recompute") {
    val dc = dailyWithDaysAll(sfDir)
    val got = SparkEntry.queries("q_x_wilcoxon_signed")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    dc.foreach { case (t, rows) =>
      val byDay = rows.toMap.map { case (d, c) =>
        java.time.LocalDate.parse(d).toEpochDay -> c
      }
      val diffs = byDay.toSeq.flatMap { case (ed, c) =>
        byDay.get(ed + 7).map(_ - c)
      }.filter(_ != 0L)
      val rk = midranks(diffs.map(math.abs))
      val wStat = diffs.map(d => math.signum(d.toDouble) * rk(math.abs(d))).sum
      val v = diffs.map(d => rk(math.abs(d))).map(r => r * r).sum
      val z = if (diffs.nonEmpty && v > 0) Some(wStat / math.sqrt(v)) else None
      val (gn, gw2, gz) = got(t)
      assert(gn == diffs.size && math.abs(gw2 - 2 * wStat) < 1e-9, s"type $t sums")
      (z, gz) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-5, s"type $t z")
        case (None, None)       => ()
        case other              => fail(s"type $t guard: $other")
      }
    }
  }

  test("q_x_theil_u matches a direct entropy recompute") {
    val pairs = Tables.table(spark, sfDir, "documents")
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val n = pairs.length.toDouble
    def h(keys: Seq[String]): Double =
      -keys.groupBy(identity).values
        .map(g => g.size / n).map(p => p * math.log(p)).sum
    val hx = h(pairs.map(_._1).toSeq)
    val hy = h(pairs.map(_._2).toSeq)
    val hxy = h(pairs.map(p => p._1 + " " + p._2).toSeq)
    val mi = hx + hy - hxy
    val r = SparkEntry.queries("q_x_theil_u")(spark, sfDir).collect()(0)
    assert(math.abs(r.getDouble(1) - hy) < 1e-5 &&
      math.abs(r.getDouble(2) - hx) < 1e-5 &&
      math.abs(r.getDouble(3) - mi) < 1e-5 &&
      math.abs(r.getDouble(4) - mi / hy) < 1e-5 &&
      math.abs(r.getDouble(5) - mi / hx) < 1e-5)
  }

  test("q_x_kendall_w matches a literal full-week block recompute") {
    val dc = dailyWithDaysAll(sfDir)
    val got = SparkEntry.queries("q_x_kendall_w")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    dc.foreach { case (t, rows) =>
      val cells = rows.groupBy { case (d, _) =>
        java.time.LocalDate.parse(d).toEpochDay / 7
      }.view.mapValues(_.map { case (d, c) =>
        (java.time.LocalDate.parse(d).toEpochDay % 7, c)
      }).toMap.filter(_._2.length == 7)
      val m = cells.size.toLong
      if (m >= 1) {
        var tsum = 0L
        val rankRows = cells.values.toSeq.flatMap { wkRows =>
          val rk = midranks(wkRows.map(_._2).toSeq)
          wkRows.map(_._2).groupBy(identity).values
            .map(_.length.toLong).foreach(tt => tsum += tt * tt * tt - tt)
          wkRows.map { case (slot, v) => (slot, rk(v)) }
        }
        val s = rankRows.groupBy(_._1).values.map { g =>
          val rj = g.map(_._2).sum
          (rj - m * 4.0) * (rj - m * 4.0)
        }.sum
        val den = m.toDouble * m * 336 - m.toDouble * tsum
        val wExp = if (den > 0) Some(12 * s / den) else None
        val (gm, gw) = got(t)
        assert(gm == m, s"type $t weeks")
        (wExp, gw) match {
          case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-5, s"type $t W")
          case (None, None)       => ()
          case other              => fail(s"type $t guard: $other")
        }
      }
    }
  }

  test("q_x_turning_points matches a literal triple scan") {
    val got = SparkEntry.queries("q_x_turning_points")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    dailySeries(sfDir).foreach { case (ty, x) =>
      val t = (1 until x.length - 1).count(i =>
        (x(i) > x(i - 1) && x(i) > x(i + 1)) ||
          (x(i) < x(i - 1) && x(i) < x(i + 1))).toLong
      val n = x.length
      val z = if (n >= 4)
        Some((t - 2 * (n - 2.0) / 3) / math.sqrt((16.0 * n - 29) / 90)) else None
      val (gt, gz) = got(ty)
      assert(gt == t, s"type $ty T")
      (z, gz) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-5, s"type $ty z")
        case (None, None)       => ()
        case other              => fail(s"type $ty guard: $other")
      }
    }
  }

  test("q_x_bartels matches a literal rank von Neumann recompute") {
    val got = SparkEntry.queries("q_x_bartels")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    dailySeries(sfDir).foreach { case (ty, x) =>
      val rk = midranks(x.toSeq)
      val r = x.map(rk)
      val n = x.length
      val rbar = (n + 1) / 2.0
      val den = r.map(v => (v - rbar) * (v - rbar)).sum
      val exp = if (n >= 2 && den > 0) {
        val num = (1 until n).map(i => (r(i) - r(i - 1)) * (r(i) - r(i - 1))).sum
        Some((num / den, (num / den - 2) / math.sqrt(4.0 / n)))
      } else None
      (exp, got(ty)) match {
        case (Some((ev, ez)), (Some(gv), Some(gz))) =>
          assert(math.abs(ev - gv) < 1e-5 && math.abs(ez - gz) < 1e-5, s"type $ty")
        case (None, (None, None)) => ()
        case other                => fail(s"type $ty guard: $other")
      }
    }
  }

  test("q_x_quade matches a literal block-weighted recompute") {
    val dc = dailyWithDaysAll(sfDir)
    val got = SparkEntry.queries("q_x_quade")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    dc.foreach { case (t, rows) =>
      val weeks = rows.groupBy { case (d, _) =>
        java.time.LocalDate.parse(d).toEpochDay / 7
      }.view.mapValues(_.map { case (d, c) =>
        (java.time.LocalDate.parse(d).toEpochDay % 7, c)
      }).toMap.filter(_._2.length == 7)
      val m = weeks.size
      if (m >= 2) {
        val ranges = weeks.view.mapValues(ws => ws.map(_._2).max - ws.map(_._2).min)
        val qRk = midranks(ranges.values.toSeq)
        // per (week, slot): S = Q_b * (r_bj - 4)
        val sMat = weeks.toSeq.map { case (wk, ws) =>
          val rk = midranks(ws.map(_._2).toSeq)
          ws.map { case (slot, v) => (slot, qRk(ranges(wk)) * (rk(v) - 4.0)) }
        }
        val a = sMat.flatten.map(_._2).map(x => x * x).sum
        val bSum = sMat.flatten.groupBy(_._1).values
          .map(g => { val sj = g.map(_._2).sum; sj * sj }).sum / m
        val f = if (a - bSum > 0) Some((m - 1) * bSum / (a - bSum)) else None
        val (gm, gf) = got(t)
        assert(gm == m, s"type $t weeks")
        (f, gf) match {
          case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-4, s"type $t F: $e vs $g")
          case (None, None)       => ()
          case other              => fail(s"type $t guard: $other")
        }
      }
    }
  }

  test("q_x_bowker matches a literal modal-half recompute") {
    val ev = Tables.table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mid = (ev.map(_._3).min + ev.map(_._3).max) / 2.0
    val modal = ev.groupBy(_._1).view.mapValues { rows =>
      def pick(half: Array[(Long, String, Long)]): Option[String] =
        if (half.isEmpty) None
        else Some(half.groupBy(_._2).view.mapValues(_.length).toSeq
          .minBy { case (ty, c) => (-c, ty) }._1)
      (pick(rows.filter(_._3 <= mid)), pick(rows.filter(_._3 > mid)))
    }.collect { case (_, (Some(a), Some(b))) => (a, b) }.toSeq
    val types = modal.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var chi2 = 0.0
    var df = 0L
    for (i <- types.indices; j <- (i + 1) until types.length) {
      val nij = modal.count(p => p._1 == types(i) && p._2 == types(j)).toDouble
      val nji = modal.count(p => p._1 == types(j) && p._2 == types(i)).toDouble
      if (nij + nji > 0) { df += 1; chi2 += (nij - nji) * (nij - nji) / (nij + nji) }
    }
    val r = SparkEntry.queries("q_x_bowker")(spark, sfDir).collect()(0)
    assert(r.getLong(0) == modal.size && r.getLong(1) == df &&
      math.abs(r.getDouble(2) - chi2) < 1e-5,
      s"(${modal.size},$df,$chi2) vs $r")
  }

  test("q_x_cohen_h matches a direct arcsine recompute") {
    val docs = docsBySource(sfDir)
    val all = docs.values.flatten.toSeq.sorted
    val med =
      if (all.size % 2 == 1) all(all.size / 2).toDouble
      else (all(all.size / 2 - 1) + all(all.size / 2)) / 2.0
    val got = SparkEntry.queries("q_x_cohen_h")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    val srcs = docs.keys.toSeq.sorted
    for (a <- srcs; b <- srcs if a < b) {
      def phi(x: Array[Long]) =
        2 * math.asin(math.sqrt(x.count(_ > med).toDouble / x.length))
      val h = phi(docs(a)) - phi(docs(b))
      assert(math.abs(h - got((a, b))) < 1e-5, s"pair ($a,$b)")
    }
  }

  /** Literal log-rank over (cohort, dur, censored) rows. */
  private def logRankRef(users: Seq[(String, Long, Boolean)])
      : Map[String, (Long, Double, Double)] = {
    val durs = users.map(_._2).distinct.sorted
    users.map(_._1).distinct.map { g =>
      var (o, e, v) = (0L, 0.0, 0.0)
      durs.foreach { t =>
        val atRisk = users.filter(_._2 >= t)
        val nt = atRisk.size.toDouble
        val ngt = atRisk.count(_._1 == g).toDouble
        val deaths = users.filter(u => u._2 == t && !u._3)
        val dt = deaths.size.toDouble
        if (dt > 0) {
          o += deaths.count(_._1 == g)
          e += dt * ngt / nt
          if (nt > 1) v += dt * (ngt / nt) * (1 - ngt / nt) * (nt - dt) / (nt - 1)
        }
      }
      g -> (o, e, v)
    }.toMap
  }

  test("q_x_log_rank matches a literal at-risk recompute") {
    val ev = Tables.table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val users = ev.groupBy(_._1).values.map { rows =>
      val first = rows.minBy(r => (r._4, r._3))
      val t0 = rows.map(_._4).min
      val tp = rows.filter(_._2 == "purchase").map(_._4).minOption
      (first._2, (tp.getOrElse(rows.map(_._4).max) - t0) / 86400000000L, tp.isEmpty)
    }.toSeq
    val exp = logRankRef(users)
    val got = SparkEntry.queries("q_x_log_rank")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3),
        Option(r.get(5)).map(_.asInstanceOf[Double]))).toMap
    assert(got.nonEmpty)
    got.foreach { case (g, (go, ge, gchi)) =>
      val (o, e, v) = exp(g)
      assert(go == o && math.abs(ge - e) < 1e-5, s"cohort $g O/E")
      gchi.foreach(c => assert(math.abs(c - (o - e) * (o - e) / v) < 1e-4,
        s"cohort $g chi2"))
    }
  }

  test("q_x_log_rank censors never-purchasers (fixture)") {
    // Two cohorts; one user never purchases → right-censored at last
    // event, counted at-risk through dur 5 but never as a death.
    val dir = java.nio.file.Files.createTempDirectory("r14b_lr").toString
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 00:00:00")
    val rows = Seq(
      (1L, ts(1), 10L, "signup", 0.0), (2L, ts(3), 10L, "purchase", 0.0),
      (3L, ts(1), 20L, "click", 0.0), (4L, ts(2), 20L, "purchase", 0.0),
      (5L, ts(1), 30L, "signup", 0.0), (6L, ts(6), 30L, "view", 0.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_x_log_rank")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // signup cohort: users 10 (death at dur 2) + 30 (censored, dur 5)
    assert(got("signup") == ((2L, 1L)) && got("click") == ((1L, 1L)))
    val exp = logRankRef(Seq(("signup", 2L, false), ("click", 1L, false),
      ("signup", 5L, true)))
    val z = SparkEntry.queries("q_x_log_rank")(spark, dir).collect()
      .map(r => r.getString(0) -> Option(r.get(4)).map(_.asInstanceOf[Double]))
      .toMap
    val (o, e, v) = exp("signup")
    z("signup").foreach(g => assert(math.abs(g - (o - e) / math.sqrt(v)) < 1e-5))
  }

  test("q_x_hl_shift matches a literal cross-half median recompute") {
    val got = SparkEntry.queries("q_x_hl_shift")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    dailySeries(sfDir).foreach { case (t, x) =>
      val h = x.length / 2
      val diffs = (for (i <- 0 until h; j <- (x.length - h) until x.length)
        yield x(j) - x(i)).sorted
      val exp =
        if (diffs.isEmpty) None
        else if (diffs.size % 2 == 1) Some(diffs(diffs.size / 2).toDouble)
        else Some((diffs(diffs.size / 2 - 1) + diffs(diffs.size / 2)) / 2.0)
      val (gn, ghl) = got(t)
      assert(gn == diffs.size, s"type $t pairs")
      (exp, ghl) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-9, s"type $t HL")
        case (None, None)       => ()
        case other              => fail(s"type $t guard: $other")
      }
    }
  }

  /** The declared time-to-first-purchase duration rows at sfDir. */
  private def survUsers(dir: String): Seq[(String, Long, Boolean)] = {
    val ev = Tables.table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._1).values.map { rows =>
      val first = rows.minBy(r => (r._4, r._3))
      val t0 = rows.map(_._4).min
      val tp = rows.filter(_._2 == "purchase").map(_._4).minOption
      (first._2, (tp.getOrElse(rows.map(_._4).max) - t0) / 86400000000L, tp.isEmpty)
    }.toSeq
  }

  test("q_x_gehan_wilcoxon matches a literal weighted recompute") {
    val users = survUsers(sfDir)
    val durs = users.map(_._2).distinct.sorted
    val got = SparkEntry.queries("q_x_gehan_wilcoxon")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    users.map(_._1).distinct.foreach { g =>
      var num = 0L
      var v = 0.0
      durs.foreach { t =>
        val atRisk = users.filter(_._2 >= t)
        val nt = atRisk.size.toLong
        val ngt = atRisk.count(_._1 == g).toLong
        val deaths = users.filter(u => u._2 == t && !u._3)
        val dt = deaths.size.toLong
        if (dt > 0) {
          num += nt * deaths.count(_._1 == g) - dt * ngt
          if (nt > 1) v += nt.toDouble * nt *
            (dt.toDouble * (ngt.toDouble / nt) * (1 - ngt.toDouble / nt) *
              (nt - dt) / (nt - 1))
        }
      }
      val (gn, gz) = got(g)
      assert(gn == num, s"cohort $g num: $num vs $gn")
      gz.foreach(z => assert(math.abs(z - num / math.sqrt(v)) < 1e-5, s"cohort $g z"))
    }
  }

  test("q_x_rmst matches a literal KM-area recompute (tau = 30)") {
    val users = survUsers(sfDir)
    val got = SparkEntry.queries("q_x_rmst")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    users.map(_._1).distinct.foreach { g =>
      val mine = users.filter(_._1 == g)
      val deathTs = mine.filter(!_._3).map(_._2).distinct.sorted
      var s = 1.0
      var area = 0.0
      var tPrev = 0L
      deathTs.foreach { t =>
        area += s * (math.min(t, 30L) - math.min(tPrev, 30L))
        val ng = mine.count(_._2 >= t)
        val dg = mine.count(u => u._2 == t && !u._3)
        s = if (dg >= ng) 0.0 else s * (1.0 - dg.toDouble / ng)
        tPrev = t
      }
      area += s * (30 - math.min(tPrev, 30L))
      assert(math.abs(area - got(g)) < 1e-4, s"cohort $g: $area vs ${got(g)}")
    }
  }

  test("q_x_sign_test matches a literal lag-7 count") {
    val dc = dailyWithDaysAll(sfDir)
    val got = SparkEntry.queries("q_x_sign_test")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    dc.foreach { case (t, rows) =>
      val byDay = rows.toMap.map { case (d, c) =>
        java.time.LocalDate.parse(d).toEpochDay -> c
      }
      val diffs = byDay.toSeq.flatMap { case (ed, c) => byDay.get(ed + 7).map(_ - c) }
      assert(got(t) == ((diffs.count(_ > 0).toLong, diffs.count(_ < 0).toLong)),
        s"type $t")
    }
  }

  test("q_x_tarone_ware matches a literal sqrt-weighted recompute") {
    val users = survUsers(sfDir)
    val durs = users.map(_._2).distinct.sorted
    val got = SparkEntry.queries("q_x_tarone_ware")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    users.map(_._1).distinct.foreach { g =>
      var num = 0.0
      var v = 0.0
      durs.foreach { t =>
        val atRisk = users.filter(_._2 >= t)
        val nt = atRisk.size.toDouble
        val ngt = atRisk.count(_._1 == g).toDouble
        val deaths = users.filter(u => u._2 == t && !u._3)
        val dt = deaths.size.toDouble
        if (dt > 0) {
          num += math.sqrt(nt) * (deaths.count(_._1 == g) - dt * ngt / nt)
          if (nt > 1) v += nt * (dt * (ngt / nt) * (1 - ngt / nt) * (nt - dt) / (nt - 1))
        }
      }
      val (gn, gz) = got(g)
      assert(math.abs(gn - num) < 1e-4, s"cohort $g num")
      gz.foreach(z => assert(math.abs(z - num / math.sqrt(v)) < 1e-5, s"cohort $g z"))
    }
  }

  test("q_x_km_median matches a literal KM-crossing recompute") {
    val users = survUsers(sfDir)
    val got = SparkEntry.queries("q_x_km_median")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    users.map(_._1).distinct.foreach { g =>
      val mine = users.filter(_._1 == g)
      var s = 1.0
      var med: Option[Long] = None
      mine.filter(!_._3).map(_._2).distinct.sorted.foreach { t =>
        if (med.isEmpty) {
          val ng = mine.count(_._2 >= t)
          val dg = mine.count(u => u._2 == t && !u._3)
          s = if (dg >= ng) 0.0 else s * (1.0 - dg.toDouble / ng)
          if (s <= 0.5) med = Some(t)
        }
      }
      assert(got(g) == med, s"cohort $g: $med vs ${got(g)}")
    }
  }

  test("every Round14b def carries an oracle (no accidental no-oracle rows)") {
    // The no-oracle set is CLOSED at 21 (dev/NOTES.md); a def landing
    // without its oracle entry would silently reopen it (the
    // q_x_sign_test near-miss this round).
    val noOracle = queries.Round14b.queries.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"declared without oracle: $noOracle")
  }

  test("q_x_mood_scale matches a direct-sort midrank recompute") {
    val docs = docsBySource(sfDir)
    val all = docs.values.flatten.toSeq
    val rk = midranks(all)
    val nN = all.size.toDouble
    val got = SparkEntry.queries("q_x_mood_scale")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    docs.foreach { case (s, x) =>
      val n1 = x.length.toDouble
      val t = x.map(v => math.pow(rk(v) - (nN + 1) / 2, 2)).sum
      val z = (t - n1 * (nN * nN - 1) / 12) /
        math.sqrt(n1 * (nN - n1) * (nN + 1) * (nN * nN - 4) / 180)
      val (gt, gz) = got(s)
      assert(math.abs(t - gt) < 1e-6 * t, s"source $s T")
      gz.foreach(g => assert(math.abs(z - g) < 1e-5, s"source $s z"))
    }
  }

  test("q_x_chao1 matches a literal frequency-of-frequencies recompute") {
    val toks = Tables.table(spark, sfDir, "documents")
      .select(col("text")).collect().flatMap(_.getString(0).split(" "))
    val freq = toks.groupBy(identity).view.mapValues(_.length).toMap
    val (sObs, nTok) = (freq.size.toLong, toks.length.toLong)
    val f1 = freq.values.count(_ == 1).toLong
    val f2 = freq.values.count(_ == 2).toLong
    val chao1 = if (f2 > 0) sObs + f1.toDouble * f1 / (2 * f2)
      else sObs + f1.toDouble * (f1 - 1) / (2 * (f2 + 1))
    val r = SparkEntry.queries("q_x_chao1")(spark, sfDir).collect()(0)
    assert(r.getLong(0) == sObs && r.getLong(1) == nTok &&
      r.getLong(2) == f1 && r.getLong(3) == f2 &&
      math.abs(r.getDouble(4) - chao1) < 1e-4 &&
      math.abs(r.getDouble(5) - (1 - f1.toDouble / nTok)) < 1e-6)
  }

  test("q_x_capture_recapture matches a literal half-overlap recompute") {
    val ev = Tables.table(spark, sfDir, "events")
      .select(col("user_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val mid = (ev.map(_._2).min + ev.map(_._2).max) / 2.0
    val byUser = ev.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n1 = byUser.values.count(_.exists(_ <= mid)).toLong
    val n2 = byUser.values.count(_.exists(_ > mid)).toLong
    val m = byUser.values.count(ts => ts.exists(_ <= mid) && ts.exists(_ > mid)).toLong
    val nHat = (n1 + 1.0) * (n2 + 1) / (m + 1) - 1
    val r = SparkEntry.queries("q_x_capture_recapture")(spark, sfDir).collect()(0)
    assert(r.getLong(0) == n1 && r.getLong(1) == n2 && r.getLong(2) == m &&
      r.getLong(3) == byUser.size && math.abs(r.getDouble(4) - nHat) < 1e-6)
  }

  test("q_x_atkinson matches a direct geomean recompute") {
    val docs = docsBySource(sfDir).view.mapValues(_.filter(_ > 0)).toMap
    val got = SparkEntry.queries("q_x_atkinson")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    docs.foreach { case (s, x) =>
      val a = 1 - math.exp(x.map(v => math.log(v.toDouble)).sum / x.length) /
        (x.sum.toDouble / x.length)
      assert(math.abs(a - got(s)) < 1e-5, s"source $s: $a vs ${got(s)}")
    }
  }

  test("q_x_palma matches a direct sorted-share recompute") {
    // tie-break on doc_id matches any stable order when values tie
    // only within the untaken middle; recompute shares by sorted
    // values (the extreme deciles at sf0.001 are tie-free).
    val got = SparkEntry.queries("q_x_palma")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(4)).map(_.asInstanceOf[Double]))
      .toMap
    docsBySource(sfDir).foreach { case (s, x) =>
      val sorted = x.sorted
      val top = sorted.takeRight(x.length / 10).map(BigInt(_)).sum
      val bot = sorted.take(4 * x.length / 10).map(BigInt(_)).sum
      val exp = if (bot > 0) Some(top.toDouble / bot.toDouble) else None
      (exp, got(s)) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-5, s"source $s")
        case (None, None)       => ()
        case other              => fail(s"source $s guard: $other")
      }
    }
  }

  test("q_x_overdispersion / q_x_zero_inflation match literal recomputes") {
    val dc = dailyWithDaysAll(sfDir)
    val gotO = SparkEntry.queries("q_x_overdispersion")(spark, sfDir).collect()
      .map(r => r.getString(0) -> Option(r.get(2)).map(_.asInstanceOf[Double]))
      .toMap
    val gotZ = SparkEntry.queries("q_x_zero_inflation")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(2),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    dc.foreach { case (t, rows) =>
      val x = rows.map(_._2)
      val n = x.length
      val mean = x.sum.toDouble / n
      if (n >= 2 && x.sum > 0) {
        val s2 = x.map(v => (v - mean) * (v - mean)).sum / (n - 1)
        assert(math.abs(s2 / mean - gotO(t).get) < 1e-5, s"type $t vmr")
      }
      val days = rows.map(r => java.time.LocalDate.parse(r._1).toEpochDay)
      val span = days.max - days.min + 1
      val zeroDays = span - n
      val lam = x.sum.toDouble / span
      val p0 = math.exp(-lam)
      val (gz0, gz) = gotZ(t)
      assert(gz0 == zeroDays, s"type $t zeros")
      if (p0 > 0 && p0 < 1) gz.foreach { z =>
        assert(math.abs(z - (zeroDays - p0 * span) / math.sqrt(span * p0 * (1 - p0))) < 1e-5,
          s"type $t z")
      }
    }
  }

  test("observation-index grain: a calendar gap closes ranks (declared)") {
    // Series over days 1,2,3,10,11 — lag-1 pairs (3,10) across the
    // 7-day gap. The declared-grain VN numerator includes (c[10]-c[3])²;
    // a day-grain lag would exclude it. Values chosen so the two
    // conventions disagree.
    val dir = java.nio.file.Files.createTempDirectory("r14b_gap").toString
    import spark.implicits._
    val rows = Seq(
      ("2024-01-01", 10L), ("2024-01-02", 12L), ("2024-01-03", 11L),
      ("2024-01-10", 40L), ("2024-01-11", 41L))
    rows.flatMap { case (day, c) =>
      (1L to c).map(i => (s"e$day-$i", java.sql.Timestamp.valueOf(s"$day 00:00:00"),
        1L, "gap_type", 0.0))
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val x = rows.map(_._2).toArray
    val Some((vnExp, _)) = vnRef(x)
    val got = SparkEntry.queries("q_x_von_neumann")(spark, dir).collect()
    assert(got.length == 1 && math.abs(got(0).getDouble(2) - vnExp) < 1e-5)
    // and the cross-gap pair genuinely matters: dropping it changes vn
    val mean = x.sum.toDouble / x.length
    val den = x.map(v => (v - mean) * (v - mean)).sum
    val vnNoGapPair = (x.sliding(2).toSeq.filterNot(p => p(0) == 11L)
      .map(p => (p(1) - p(0)).toDouble).map(d => d * d).sum) / den
    assert(math.abs(vnExp - vnNoGapPair) > 1e-3)

    val Some(lbExp) = lbRef(x, 7).orElse(Some(-1.0)) // n=5 <= 7 → None → r1-only check
    assert(lbExp == -1.0)
    val lb = SparkEntry.queries("q_x_ljung_box")(spark, dir).collect()
    assert(lb.length == 1 && lb(0).isNullAt(3)) // q_lb NULL-guarded, row kept
    // r1 still emitted at the declared grain
    val r1Exp = {
      val n = x.length
      (1 until n).map(t => (x(t) - mean) * (x(t - 1) - mean)).sum / den
    }
    assert(math.abs(lb(0).getDouble(2) - r1Exp) < 1e-5)
  }
}
