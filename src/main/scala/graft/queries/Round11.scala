package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.Cuts.CutOps

/** Round-11 wave (SURVEY.md §2.8e): retrieval/calibration evaluation
  * (average precision, Brier decomposition), multi-classifier
  * agreement (Cochran's Q, Friedman), heavy-tail analysis (Hill
  * estimator, histogram-grain Lorenz curve), embedding OOD scoring
  * (diagonal Mahalanobis), keyword extraction (RAKE), class-balanced
  * sampling, and seasonal-residual anomaly detection — the
  * evaluation/audit layer a training-data pipeline runs after the
  * dedup/quality passes (reference README.md:62-78 ad-hoc analytics
  * surface, re-expressed as declared operators).
  *
  * Determinism (§7.4): integer/exact-double aggregates everywhere the
  * statistic allows (Cochran, Friedman ranks at 0.5 grain, Lorenz on
  * BIGINT char masses); where a true double sum is unavoidable the
  * result rounds at 6dp; every ORDER/limit cut sorts on the ROUNDED
  * value plus a unique id so both engines cut identically.
  *
  * Scale notes are per-query; none of these shuffles more than one
  * corpus pass plus dim-sized (≤ thousands of rows) reductions, and
  * the Lorenz curve deliberately works at VALUE grain (length
  * histogram + prefix sums), never a global row sort.
  */
object Round11 {
  /** RAKE stop/break list — tiny by design (the fixture vocabulary is
    * synthetic); at scale this is a broadcast lookup either way.
    */
  private val rakeStops = Seq("a", "the", "and", "of", "to", "in", "is", "on")

  val queries: Seq[Query] = Seq(

    // RAKE keyword extraction (Rose et al. 2010, word grain): break
    // text into candidate phrases at stopwords, score each word by
    // degree (Σ length of phrases containing it) over frequency, top
    // 30. One corpus pass: tokenize with positions, a running-sum
    // window assigns phrase ids, a second window sizes each phrase,
    // then a word-grain aggregate — all shuffles are token/word
    // sized, no self-join. The top-30 cut sorts on the ROUNDED score
    // + word so both engines cut the same set.
    Query("q_x_rake", (s, d) => {
      val tok = table(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .withColumn("brk", col("w").isin(rakeStops: _*).cast("long"))
      val withPhrase = tok.withColumn("pid",
        sum(col("brk")).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      val member = withPhrase.filter(col("brk") === 0)
        .withColumn("plen",
          count(lit(1)).over(Window.partitionBy(col("doc_id"), col("pid"))))
      member.groupBy(col("w"))
        .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
        .select(col("w").as("word"), col("deg"), col("freq"),
          round(col("deg").cast("double") / col("freq"), 6).as("score"))
        .orderBy(col("score").desc, col("word"))
        .limit(30)
    }, Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         u AS (SELECT doc_id, ws[CAST(i AS INTEGER)] AS w, i
               FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM w)),
         t AS (SELECT doc_id, w, i,
                 CASE WHEN w IN ('a','the','and','of','to','in','is','on')
                      THEN 1 ELSE 0 END AS brk FROM u),
         p AS (SELECT doc_id, w, brk,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS pid FROM t),
         m AS (SELECT doc_id, w,
                 count(*) OVER (PARTITION BY doc_id, pid) AS plen
               FROM p WHERE brk = 0),
         sc AS (SELECT w, CAST(sum(plen) AS BIGINT) AS deg,
                  CAST(count(*) AS BIGINT) AS freq FROM m GROUP BY w)
         SELECT w AS word, deg, freq,
                round(CAST(deg AS DOUBLE) / freq, 6) AS score
         FROM sc ORDER BY score DESC, word LIMIT 30""")),

    // Average precision (area under the PR curve, step interpolation)
    // per one-vs-rest label over the first embedding coordinate as
    // the retrieval score — complements q_x_auc (ROC) where class
    // imbalance hides. Scores round at 6dp FIRST so ranking ties are
    // identical cross-engine; rank breaks ties by vec_id. Scale: the
    // label×corpus expansion is |labels| ≈ a handful of corpus
    // passes; the per-label window is one range-partitioned sort each.
    Query("q_x_pr_curve", (s, d) => {
      val sc = table(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("sv"))
      val labels = sc.select(col("label").as("l")).distinct()
      val uni = broadcast(labels).crossJoin(sc)
        .withColumn("is_pos", (col("label") === col("l")).cast("long"))
      val w = Window.partitionBy(col("l")).orderBy(col("sv").desc, col("vec_id"))
      uni
        .withColumn("rn", row_number().over(w))
        .withColumn("cp", sum(col("is_pos")).over(w))
        .groupBy(col("l"))
        .agg(
          round(sum(when(col("is_pos") === 1,
            col("cp").cast("double") / col("rn"))) / sum(col("is_pos")), 6).as("ap"),
          sum(col("is_pos")).as("n_pos"))
        .select(col("l").as("label"), col("ap"), col("n_pos"))
        .orderBy(col("label"))
    }, Some(
      """WITH sc AS (SELECT vec_id, label,
                  round(CAST(embedding[1] AS DOUBLE), 6) AS sv FROM embeddings),
         l AS (SELECT DISTINCT label AS l FROM sc),
         u AS (SELECT l.l, sc.vec_id, sc.sv,
                 CASE WHEN sc.label = l.l THEN 1 ELSE 0 END AS is_pos
               FROM l, sc),
         r AS (SELECT l, is_pos,
                 row_number() OVER (PARTITION BY l ORDER BY sv DESC, vec_id) AS rn,
                 sum(is_pos) OVER (PARTITION BY l ORDER BY sv DESC, vec_id
                                   ROWS UNBOUNDED PRECEDING) AS cp
               FROM u)
         SELECT l AS label,
                round(sum(CASE WHEN is_pos = 1
                               THEN CAST(cp AS DOUBLE) / rn END) / sum(is_pos), 6) AS ap,
                CAST(sum(is_pos) AS BIGINT) AS n_pos
         FROM r GROUP BY l ORDER BY label""")),

    // Brier score + Murphy decomposition (reliability − resolution +
    // uncertainty over 10 equal-width probability bins) per
    // one-vs-rest label. The "forecast" is the min-max-normalized
    // first coordinate rounded at 6dp — pure arithmetic, so p and
    // hence the BINNING are bit-identical cross-engine (no exp/σ
    // boundary risk). Two grouped passes: (label, bin) then label.
    Query("q_x_brier", (s, d) => {
      val sc = table(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          element_at(col("embedding"), 1).cast("double").as("sv"))
      val mm = sc.agg(min(col("sv")).as("mn"), max(col("sv")).as("mx"))
      val p = sc.crossJoin(broadcast(mm))
        .withColumn("p", round((col("sv") - col("mn")) / (col("mx") - col("mn")), 6))
        .withColumn("bin", least(floor(col("p") * 10), lit(9L)))
      val labels = sc.select(col("label").as("l")).distinct()
      val uni = broadcast(labels).crossJoin(p)
        .withColumn("y", (col("label") === col("l")).cast("double"))
      val byBin = uni.groupBy(col("l"), col("bin"))
        .agg(count(lit(1)).as("nb"), avg(col("p")).as("pb"), avg(col("y")).as("yb"),
          sum(pow(col("p") - col("y"), 2)).as("se"), sum(col("y")).as("ys"))
      val wl = Window.partitionBy(col("l"))
      byBin
        .withColumn("ybar", sum(col("ys")).over(wl) / sum(col("nb")).over(wl))
        .groupBy(col("l"))
        .agg(
          round(sum(col("se")) / sum(col("nb")), 6).as("brier"),
          round(sum(col("nb") * pow(col("pb") - col("yb"), 2)) / sum(col("nb")), 6)
            .as("reliability"),
          round(sum(col("nb") * pow(col("yb") - col("ybar"), 2)) / sum(col("nb")), 6)
            .as("resolution"),
          round(max(col("ybar")) * (lit(1) - max(col("ybar"))), 6).as("uncertainty"))
        .select(col("l").as("label"), col("brier"), col("reliability"),
          col("resolution"), col("uncertainty"))
        .orderBy(col("label"))
    }, Some(
      """WITH sc AS (SELECT vec_id, label, CAST(embedding[1] AS DOUBLE) AS sv
                     FROM embeddings),
         mm AS (SELECT min(sv) AS mn, max(sv) AS mx FROM sc),
         p AS (SELECT vec_id, label,
                 round((sv - mn) / (mx - mn), 6) AS p,
                 least(CAST(floor(round((sv - mn) / (mx - mn), 6) * 10) AS BIGINT),
                       9) AS bin
               FROM sc, mm),
         l AS (SELECT DISTINCT label AS l FROM sc),
         u AS (SELECT l.l, p.p, p.bin,
                 CASE WHEN p.label = l.l THEN 1.0 ELSE 0.0 END AS y FROM l, p),
         b AS (SELECT l, bin, count(*) AS nb, avg(p) AS pb, avg(y) AS yb,
                 sum((p - y) * (p - y)) AS se, sum(y) AS ys
               FROM u GROUP BY l, bin),
         bb AS (SELECT *, sum(ys) OVER (PARTITION BY l) /
                          sum(nb) OVER (PARTITION BY l) AS ybar FROM b)
         SELECT l AS label,
                round(sum(se) / sum(nb), 6) AS brier,
                round(sum(nb * (pb - yb) * (pb - yb)) / sum(nb), 6) AS reliability,
                round(sum(nb * (yb - ybar) * (yb - ybar)) / sum(nb), 6) AS resolution,
                round(max(ybar) * (1 - max(ybar)), 6) AS uncertainty
         FROM bb GROUP BY l ORDER BY label""")),

    // Cochran's Q across k=3 binary "classifiers" (sign of embedding
    // coords 1..3): the k-sample McNemar generalization. Column and
    // row totals are exact BIGINTs, the statistic one final double
    // expression — zero float-order risk. One corpus pass.
    Query("q_x_cochran_q", (s, d) => {
      def xj(j: Int): Column =
        (element_at(col("embedding"), j).cast("double") > 0).cast("long")
      table(s, d, "embeddings")
        .select(xj(1).as("x1"), xj(2).as("x2"), xj(3).as("x3"))
        .withColumn("li", col("x1") + col("x2") + col("x3"))
        .agg(count(lit(1)).as("n"),
          sum(col("x1")).as("g1"), sum(col("x2")).as("g2"), sum(col("x3")).as("g3"),
          sum(col("li")).as("t"), sum(col("li") * col("li")).as("l2"))
        .select(col("n"),
          when(lit(3) * col("t") - col("l2") =!= 0,
            round(lit(2.0) * (lit(3) * (col("g1") * col("g1") + col("g2") * col("g2")
              + col("g3") * col("g3")) - col("t") * col("t")) /
              (lit(3) * col("t") - col("l2")), 6)).as("q"),
          lit(2L).as("dof"))
    }, Some(
      """WITH x AS (SELECT
                 CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END AS x1,
                 CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 1 ELSE 0 END AS x2,
                 CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 1 ELSE 0 END AS x3
               FROM embeddings),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x1) AS BIGINT) AS g1, CAST(sum(x2) AS BIGINT) AS g2,
                 CAST(sum(x3) AS BIGINT) AS g3,
                 CAST(sum(x1 + x2 + x3) AS BIGINT) AS t,
                 CAST(sum((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS l2
               FROM x)
         SELECT n,
                CASE WHEN 3 * t - l2 <> 0 THEN
                  round(2.0 * (3 * (g1 * g1 + g2 * g2 + g3 * g3) - t * t) /
                        (3 * t - l2), 6) END AS q,
                CAST(2 AS BIGINT) AS dof
         FROM a""")),

    // Friedman rank test across k=4 "treatments" (embedding coords
    // 1..4) with vectors as blocks. Within-block ranks come from
    // direct pairwise comparisons (k is a constant — no per-block
    // sort), mid-rank ties at exact 0.5 grain; rank sums are exact
    // doubles, the χ²_F statistic one final expression.
    Query("q_x_friedman", (s, d) => {
      def e(j: Int): Column = element_at(col("embedding"), j).cast("double")
      def rank(j: Int): Column = {
        val others = (1 to 4).filter(_ != j)
        lit(1.0) +
          others.map(m => (e(m) < e(j)).cast("double")).reduce(_ + _) +
          others.map(m => (e(m) === e(j)).cast("double") * 0.5).reduce(_ + _)
      }
      table(s, d, "embeddings")
        .select(rank(1).as("r1"), rank(2).as("r2"), rank(3).as("r3"), rank(4).as("r4"))
        .agg(count(lit(1)).as("n"),
          sum(col("r1")).as("s1"), sum(col("r2")).as("s2"),
          sum(col("r3")).as("s3"), sum(col("r4")).as("s4"))
        .select(col("n"),
          round(lit(12.0) / (col("n") * 4 * 5) *
            (col("s1") * col("s1") + col("s2") * col("s2") +
              col("s3") * col("s3") + col("s4") * col("s4")) - lit(3.0) * col("n") * 5,
            6).as("chi2_f"),
          lit(3L).as("dof"))
    }, Some(
      """WITH e AS (SELECT CAST(embedding[1] AS DOUBLE) AS e1,
                           CAST(embedding[2] AS DOUBLE) AS e2,
                           CAST(embedding[3] AS DOUBLE) AS e3,
                           CAST(embedding[4] AS DOUBLE) AS e4 FROM embeddings),
         r AS (SELECT
           1.0 + (CASE WHEN e2 < e1 THEN 1 ELSE 0 END + CASE WHEN e3 < e1 THEN 1 ELSE 0 END
                + CASE WHEN e4 < e1 THEN 1 ELSE 0 END)
               + 0.5 * (CASE WHEN e2 = e1 THEN 1 ELSE 0 END + CASE WHEN e3 = e1 THEN 1 ELSE 0 END
                + CASE WHEN e4 = e1 THEN 1 ELSE 0 END) AS r1,
           1.0 + (CASE WHEN e1 < e2 THEN 1 ELSE 0 END + CASE WHEN e3 < e2 THEN 1 ELSE 0 END
                + CASE WHEN e4 < e2 THEN 1 ELSE 0 END)
               + 0.5 * (CASE WHEN e1 = e2 THEN 1 ELSE 0 END + CASE WHEN e3 = e2 THEN 1 ELSE 0 END
                + CASE WHEN e4 = e2 THEN 1 ELSE 0 END) AS r2,
           1.0 + (CASE WHEN e1 < e3 THEN 1 ELSE 0 END + CASE WHEN e2 < e3 THEN 1 ELSE 0 END
                + CASE WHEN e4 < e3 THEN 1 ELSE 0 END)
               + 0.5 * (CASE WHEN e1 = e3 THEN 1 ELSE 0 END + CASE WHEN e2 = e3 THEN 1 ELSE 0 END
                + CASE WHEN e4 = e3 THEN 1 ELSE 0 END) AS r3,
           1.0 + (CASE WHEN e1 < e4 THEN 1 ELSE 0 END + CASE WHEN e2 < e4 THEN 1 ELSE 0 END
                + CASE WHEN e3 < e4 THEN 1 ELSE 0 END)
               + 0.5 * (CASE WHEN e1 = e4 THEN 1 ELSE 0 END + CASE WHEN e2 = e4 THEN 1 ELSE 0 END
                + CASE WHEN e3 = e4 THEN 1 ELSE 0 END) AS r4
           FROM e),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(r1) AS s1, sum(r2) AS s2, sum(r3) AS s3, sum(r4) AS s4 FROM r)
         SELECT n,
                round(12.0 / (n * 4 * 5) * (s1 * s1 + s2 * s2 + s3 * s3 + s4 * s4)
                      - 3.0 * n * 5, 6) AS chi2_f,
                CAST(3 AS BIGINT) AS dof
         FROM a""")),

    // Hill tail-index estimator on the document-length distribution:
    // H = mean ln(x_(i)/x_(k+1)) over the top k=100 order statistics,
    // α = 1/H — the standard "how heavy is the long-document tail"
    // answer a token-budget planner needs. Corpus work is ONE top-101
    // cut (TakeOrderedAndProject — never a global sort); the 101st
    // order statistic is just min() over that cut, so the whole
    // estimator is ONE aggregate over 101 rows (no rank window):
    // Σ_{i≤100} ln(x_i/x_101) = (Σ_{i≤101} ln x_i − ln min) −
    // 100·ln min.
    Query("q_x_hill", (s, d) => {
      val top = table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .limit(101)
      top.agg(count(lit(1)).as("m"),
          sum(log(col("n_chars").cast("double"))).as("sln"),
          min(col("n_chars")).cast("double").as("mn"))
        .select((col("m") - 1).as("k"),
          round((col("sln") - log(col("mn"))) / (col("m") - 1) - log(col("mn")), 6)
            .as("h"))
        .select(col("k"), col("h"), round(lit(1.0) / col("h"), 6).as("alpha"))
    }, Some(
      """WITH top AS (SELECT doc_id, n_chars FROM documents
                      ORDER BY n_chars DESC, doc_id LIMIT 101),
         a AS (SELECT count(*) AS m, sum(ln(CAST(n_chars AS DOUBLE))) AS sln,
                      CAST(min(n_chars) AS DOUBLE) AS mn FROM top),
         b AS (SELECT CAST(m - 1 AS BIGINT) AS k,
                      round((sln - ln(mn)) / (m - 1) - ln(mn), 6) AS h FROM a)
         SELECT k, h, round(1.0 / h, 6) AS alpha FROM b""")),

    // Diagonal-covariance Mahalanobis OOD score: per-dimension
    // moments in one 64-row reduction (posexplode + group by pos),
    // broadcast back, per-vector Σ (x−μ)²/σ² in a second pass; top-20
    // outliers cut on the ROUNDED score + vec_id. The full-covariance
    // version is a 64×64 driver solve (the q_x_pca_spectrum shape);
    // diagonal is the 100 TB screening default.
    Query("q_x_mahalanobis", (s, d) => {
      val dims = table(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("x", col("x").cast("double"))
      val stats = dims.groupBy(col("pos"))
        .agg(avg(col("x")).as("mu"), avg(col("x") * col("x")).as("m2"))
        .withColumn("v", col("m2") - col("mu") * col("mu"))
      dims.join(broadcast(stats), "pos")
        .groupBy(col("vec_id"), col("label"))
        .agg(round(sum(pow(col("x") - col("mu"), 2) / col("v")), 6).as("md2"))
        .orderBy(col("md2").desc, col("vec_id"))
        .limit(20)
        .select(col("vec_id"), col("label"), col("md2"))
    }, Some(
      """WITH dims AS (SELECT vec_id, label, CAST(i AS INTEGER) AS pos,
                  CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE) AS x
               FROM embeddings, range(0, 64) r(i)),
         st AS (SELECT pos, avg(x) AS mu, avg(x * x) - avg(x) * avg(x) AS v
                FROM dims GROUP BY pos),
         sc AS (SELECT vec_id, label,
                  round(sum((x - mu) * (x - mu) / v), 6) AS md2
                FROM dims JOIN st USING (pos) GROUP BY vec_id, label)
         SELECT vec_id, label, md2 FROM sc
         ORDER BY md2 DESC, vec_id LIMIT 20""")),

    // Class-balanced downsample: every label keeps exactly
    // min-class-count vectors, chosen by deterministic md5 rank —
    // the label-skew corrective before contrastive/classification
    // training. One per-label window (rank) + a broadcast scalar;
    // reproducible on any partitioning (§7.4 pure-function sampling).
    Query("q_x_balanced_sample", (s, d) => {
      val e = table(s, d, "embeddings").select(col("vec_id"), col("label"))
      val nmin = e.groupBy(col("label")).agg(count(lit(1)).as("c"))
        .agg(min(col("c")).as("nmin"))
      val w = Window.partitionBy(col("label"))
        .orderBy(md5(concat(lit("bal"), col("vec_id").cast("string"))), col("vec_id"))
      e.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(nmin))
        .filter(col("rk") <= col("nmin"))
        .select(col("label"), col("vec_id"))
        .orderBy(col("label"), col("vec_id"))
    }, Some(
      """WITH c AS (SELECT label, count(*) AS c FROM embeddings GROUP BY label),
         nm AS (SELECT min(c) AS nmin FROM c),
         r AS (SELECT label, vec_id,
                 row_number() OVER (PARTITION BY label
                   ORDER BY md5('bal' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
               FROM embeddings)
         SELECT label, vec_id FROM r, nm WHERE rk <= nmin
         ORDER BY label, vec_id""")),

    // Seasonal-residual anomaly detection on the daily value series
    // per event type: residual = daily total − centered 7-day moving
    // average (trend) − weekday offset (seasonal), flag |residual| >
    // 2.5σ. The STL-lite decomposition every metrics pipeline runs.
    // Corpus work is ONE daily aggregate (totals rounded at 6dp so
    // both engines window over identical numbers); the comparison
    // uses ROUNDED residual and σ — no float-boundary flag flips.
    // Weekday = days-since-epoch mod 7 (identical cross-engine; no
    // locale/DOW-convention dependence).
    Query("q_x_stl_anomaly", (s, d) => {
      val daily = graft.operators.DayGrain.values(s, d)
        .withColumnRenamed("v", "tot")
        .withColumn("dow", pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7)))
      val byType = Window.partitionBy(col("event_type"))
      val trendW = byType.orderBy(col("day")).rowsBetween(-3, 3)
      val r = daily
        .withColumn("trend", avg(col("tot")).over(trendW))
        .withColumn("dowm", avg(col("tot")).over(
          Window.partitionBy(col("event_type"), col("dow"))))
        .withColumn("allm", avg(col("tot")).over(byType))
        .withColumn("resid", round(col("tot") - col("trend") - (col("dowm") - col("allm")), 6))
      r.withColumn("sd", round(stddev_samp(col("resid")).over(byType), 6))
        .filter(abs(col("resid")) > lit(2.5) * col("sd"))
        .select(col("event_type"), col("day"), col("resid"), col("sd"))
        .orderBy(col("event_type"), col("day"))
    }, Some(
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 6) AS tot
               FROM events GROUP BY 1, 2),
         dd AS (SELECT event_type, day, tot,
                  date_diff('day', DATE '1970-01-01', day) % 7 AS dow FROM daily),
         r AS (SELECT event_type, day, tot,
                 avg(tot) OVER (PARTITION BY event_type ORDER BY day
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
                 avg(tot) OVER (PARTITION BY event_type, dow) AS dowm,
                 avg(tot) OVER (PARTITION BY event_type) AS allm
               FROM dd),
         z AS (SELECT event_type, day,
                 round(tot - trend - (dowm - allm), 6) AS resid FROM r),
         f AS (SELECT event_type, day, resid,
                 round(stddev_samp(resid) OVER (PARTITION BY event_type), 6) AS sd
               FROM z)
         SELECT event_type, day, resid, sd FROM f
         WHERE abs(resid) > 2.5 * sd
         ORDER BY event_type, day""")),

    // Lorenz curve of character mass over documents at decile grid
    // points — "the bottom 10g% of docs hold share_g of the chars"
    // (the concentration view q_x_gini summarizes to one number).
    // Deliberately VALUE-grain: length histogram + prefix sums, the
    // grid row for g found by a histogram range join — exact BIGINT
    // arithmetic throughout, and no global row sort at any scale
    // (the within-boundary-value split needs no doc order: equal
    // lengths contribute equal mass).
    Query("q_x_lorenz", (s, d) => {
      val hist = table(s, d, "documents")
        .groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
        .withColumn("chars", col("n_chars") * col("cnt"))
      // global cumsum over the VALUE-grain histogram (distinct
      // lengths — bounded, never corpus-sized): the board's
      // coalesce(1) + checkpoint-barrier idiom (q_x_coverage /
      // q_x_qq_shift) keeps the one-task window off the declared
      // plan's data path; the grid join is a 10-row broadcast
      val w = Window.orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.coalesce(1)
        .withColumn("ccnt", sum(col("cnt")).over(w))
        .withColumn("cchars", sum(col("chars")).over(w))
        .cut(kRowFold = true)
      val tot = cum.agg(max(col("ccnt")).as("n"), max(col("cchars")).as("tchars"))
      val grid = s.range(1, 11).toDF("g")
        .crossJoin(broadcast(tot))
        .withColumn("m", floor(col("g") * col("n") / 10))
      broadcast(grid)
        .join(cum, col("m") <= col("ccnt") && col("m") > col("ccnt") - col("cnt"))
        .select(col("g"), col("m"),
          round((col("cchars") - (col("ccnt") - col("m")) * col("n_chars"))
            .cast("double") / col("tchars"), 6).as("cum_share"))
        .orderBy(col("g"))
    }, Some(
      """WITH hist AS (SELECT n_chars, CAST(count(*) AS BIGINT) AS cnt,
                  CAST(n_chars * count(*) AS BIGINT) AS chars
               FROM documents GROUP BY n_chars),
         cum AS (SELECT n_chars, cnt, chars,
                  sum(cnt) OVER (ORDER BY n_chars) AS ccnt,
                  sum(chars) OVER (ORDER BY n_chars) AS cchars
                FROM hist),
         tot AS (SELECT max(ccnt) AS n, max(cchars) AS tchars FROM cum),
         grid AS (SELECT CAST(g AS BIGINT) AS g,
                    CAST(floor(g * n / 10) AS BIGINT) AS m, tchars
                  FROM range(1, 11) r(g), tot)
         SELECT g, m,
                round(CAST(cchars - (ccnt - m) * n_chars AS DOUBLE) / tchars, 6)
                  AS cum_share
         FROM grid JOIN cum
           ON m <= ccnt AND m > ccnt - cnt
         ORDER BY g"""))
  )
}
