package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Linear quality-classifier TRAINING — the missing half of
  * [[TextAnalysis.linearQualityScore]] (which ships fixed stand-in
  * weights): a fasttext-style model over hashed bag-of-words presence
  * features, trained with `rounds` passes of the BATCH PERCEPTRON rule
  * (Rosenblatt; the batch form sums updates over all currently
  * misclassified examples per round):
  *
  *   w_{r+1} = w_r + Σ_{i : y_i · ⟨w_r, x_i⟩ <= 0} y_i · x_i
  *
  * Everything is INTEGER — bag-of-words COUNT features, ±1 labels,
  * unit learning rate — so the weight trajectory is bit-exact and the
  * DuckDB oracle replays the rounds as generated CTEs (the q251
  * DoReMi / q260 EM discipline for iterative fixed-point ML).
  *
  * Features: md5-bucket unigram COUNTS over [[Dedup.tokenRows]] words,
  * each bucket [[Sketches.md5Bucket]] (the repo's engine-portable hash,
  * the one helper dsirWeights/linearQualityScore/jsdMatrix call — and
  * the same bag-of-words the fixed-weight scorer consumes; PRESENCE
  * features were tried and rejected: long documents cover every
  * bucket, making presence vectors near-constant and the task
  * unlearnable by construction) plus an always-on bias bucket
  * `nBuckets` with count 1.
  *
  * Scale: the feature frame reduces to DISTINCT (doc, bucket) pairs
  * once and localCheckpoints (loop-invariant — round r must not
  * replay the tokenize/md5 lineage). Each round is one broadcast-
  * weight margin aggregation at doc grain plus one bucket-grain
  * gradient aggregation whose result is the (nBuckets+1)-row weight
  * vector — the only driver-side state, the [[TextAnalysis.bpeMerges]]
  * argmax discipline. Output is the audit frame: per-round
  * misclassified counts and weight-l1, the final per-bucket weights,
  * and train accuracy in exact integer ppm.
  */
object LinearTrain {

  def perceptronTrain(docs: DataFrame, labelCol: Column,
      id: String = "doc_id", text: String = "text", nBuckets: Int = 32,
      rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = Dedup.tokenRows(docs, col(text), "_t", col(id).as("doc_id"),
        labelCol.cast("int").as("y01"))
      .withColumn("_b", Sketches.md5Bucket(col("_t"), nBuckets))
    val feats = toks.groupBy(col("doc_id"), col("y01"), col("_b"))
      .agg(count(lit(1)).as("cnt"))
      .unionByName(docs.select(col(id).as("doc_id"),
        labelCol.cast("int").as("y01"), lit(nBuckets.toLong).as("_b"),
        lit(1L).as("cnt")))
      .localCheckpoint(true)
    val yy = col("y01") * 2 - 1
    var w = Array.fill(nBuckets + 1)(0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def margins(weights: Array[Long]): DataFrame = {
      val wCol = element_at(array(weights.map(lit).toIndexedSeq: _*),
        (col("_b") + 1).cast("int"))
      feats.groupBy(col("doc_id"), col("y01"))
        .agg(sum(wCol * col("cnt")).as("m"))
    }
    for (r <- 1 to rounds) {
      val m = margins(w).localCheckpoint(true)
      val nMis = m.filter(yy * col("m") <= 0).count()
      val grad = feats
        .join(m.filter(yy * col("m") <= 0)
          .select(col("doc_id"), col("y01")), Seq("doc_id", "y01"))
        .groupBy(col("_b"))
        .agg(sum(yy * col("cnt")).as("g"))
        .collect() // bounded: nBuckets + 1 rows
      grad.foreach(row =>
        w(row.getLong(0).toInt) += row.getLong(1))
      out += ((f"round_${r}%02d_misclassified", nMis))
      out += ((f"round_${r}%02d_weight_l1", w.map(math.abs).sum))
    }
    val acc = margins(w)
      .agg(coalesce(sum(when(yy * col("m") > 0, 1L).otherwise(0L)),
        lit(0L)).as("ok"), count(lit(1)).as("n")).head()
    val (ok, n) = (acc.getLong(0), acc.getLong(1))
    out += (("train_accuracy_ppm", if (n == 0) 0L else ok * 1000000L / n))
    out ++= w.zipWithIndex.map { case (v, b) =>
      (f"final_weight_b$b%02d", v)
    }
    out.toSeq.toDF("item", "metric")
  }
}
