package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.Cuts.CutOps

/** Round-11 wave 13 (SURVEY.md §2.8e): the ROC/Youden threshold
  * picker over the q_x_ece calibration stream — the full ROC table at
  * 2dp score bins with each threshold's J = TPR − FPR and the optimal
  * row flagged (max J, ties to the lowest threshold). The operating-
  * point decision every deployed classifier gate needs, complementing
  * q_x_auc (area) and q_x_ece (calibration).
  *
  * Determinism (§7.4): the score/outcome pair is the md5 inverse-CDF
  * idiom (identical in both engines); bin masses are exact BIGINTs;
  * the from-above cumulatives ride the ≤100-row bin table (rfm
  * coalesce(1)+lazy-checkpoint fold); TPR/FPR/J divide exact integers
  * the same way in both engines, so the argmax flag needs no
  * tolerance.
  */
object Round11m {
  val queries: Seq[Query] = Seq(

    Query("q_x_youden", (s, d) => {
      val denom = lit(4294967296.0) // 2^32
      val p = (conv(substring(md5(concat(lit("cal:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long").cast("double") + 0.5) / denom
      val u2 = (conv(substring(md5(concat(lit("out:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long").cast("double") + 0.5) / denom
      val bins = table(s, d, "documents")
        .select(p.as("p"), when(u2 < p, 1L).otherwise(0L).as("y"))
        .groupBy(floor(col("p") * 100).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
      // predict positive iff p >= bin/100: cumulate from ABOVE
      val w = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val roc = bins.coalesce(1)
        .withColumn("cpos", sum(col("npos")).over(w))
        .withColumn("cneg", sum(col("n") - col("npos")).over(w))
        .withColumn("tp", sum(col("npos")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("tn", sum(col("n") - col("npos")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .cut(kRowFold = true)
        .selectExpr("bin", "n",
          "CAST(cpos AS DOUBLE) / tp AS tpr",
          "CAST(cneg AS DOUBLE) / tn AS fpr",
          "CAST(cpos AS DOUBLE) / tp - CAST(cneg AS DOUBLE) / tn AS j")
      val best = roc.agg(max(col("j")).as("jmax"))
      val bestBin = roc.join(broadcast(best), col("j") === col("jmax"))
        .agg(min(col("bin")).as("best_bin"))
      roc.crossJoin(broadcast(bestBin))
        .select(round(col("bin") / 100.0, 2).as("threshold"), col("n"),
          round(col("tpr"), 6).as("tpr"), round(col("fpr"), 6).as("fpr"),
          round(col("j"), 6).as("j"),
          (col("bin") === col("best_bin")).as("is_best"))
        .orderBy(col("threshold"))
    }, Some(
      """WITH b AS (SELECT
             (CAST(('0x' || substr(md5('cal:' || doc_id), 1, 8)) AS BIGINT) + 0.5)
               / 4294967296.0 AS p,
             CASE WHEN (CAST(('0x' || substr(md5('out:' || doc_id), 1, 8)) AS BIGINT)
                        + 0.5) / 4294967296.0
                  < (CAST(('0x' || substr(md5('cal:' || doc_id), 1, 8)) AS BIGINT)
                     + 0.5) / 4294967296.0
                  THEN 1 ELSE 0 END AS y
           FROM documents),
         bins AS (SELECT CAST(floor(p * 100) AS BIGINT) AS bin,
                         CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(y) AS BIGINT) AS npos
                  FROM b GROUP BY bin),
         roc AS (SELECT bin, n,
                 CAST(sum(npos) OVER wd AS DOUBLE) / (sum(npos) OVER ()) AS tpr,
                 CAST(sum(n - npos) OVER wd AS DOUBLE) / (sum(n - npos) OVER ()) AS fpr,
                 CAST(sum(npos) OVER wd AS DOUBLE) / (sum(npos) OVER ())
                   - CAST(sum(n - npos) OVER wd AS DOUBLE) / (sum(n - npos) OVER ()) AS j
               FROM bins
               WINDOW wd AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)),
         best AS (SELECT min(bin) AS best_bin FROM roc
                  WHERE j = (SELECT max(j) FROM roc))
         SELECT round(bin / 100.0, 2) AS threshold, n,
                round(tpr, 6) AS tpr, round(fpr, 6) AS fpr, round(j, 6) AS j,
                bin = best.best_bin AS is_best
         FROM roc, best ORDER BY threshold"""))
  )
}
