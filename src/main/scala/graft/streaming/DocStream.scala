package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming document pipelines — the INGEST-time siblings of the batch
  * corpus operators: documents arrive as a file stream and are gated
  * against a static view of the existing corpus before admission.
  */
object DocStream {

  /** Streaming near-duplicate ADMISSION GATE — the production shape of
    * minhash dedup (q38/q216): the corpus slice (doc_id % 10 = 0) is
    * the already-ingested static index; the rest of the table arrives
    * as the incoming stream, and every incoming doc is checked for a
    * near-duplicate already in the corpus BEFORE admission.
    *
    * Stream side: the batch kernel's own band keys
    * ([[graft.operators.Dedup.lshBuckets]], the same codegen'd shingle →
    * minhash → banded-bucket chain), per microbatch. The static band index
    * is computed once from the corpus and broadcast into a
    * STREAM-STATIC inner join — stateless in Structured Streaming (no
    * watermark, no state store; the static side is re-planned per
    * microbatch), so every candidate (incoming, corpus) band hit emits
    * immediately and the result provably equals the batch band join.
    * At 100 TB the corpus index outgrows a broadcast and the same join
    * degrades gracefully to a shuffled stream-static join on
    * (band, bucket) — still stateless.
    *
    * The read-back then verifies candidates EXACTLY (batch) through the
    * batch operators' join-back ([[graft.operators.Dedup.withPayloads]]):
    * distinct pairs, true shingle Jaccard, threshold filter — the bloom→exact
    * decontam discipline (q210) applied at ingest. Output
    * (id_a, id_b, jaccard) equals q216's from-scratch restriction to
    * stream-corpus pairs, which is what the DuckDB oracle computes.
    *
    * Oracle convention (the q38/q216 latent assumption, stated): what
    * is provable is streamed-band-join == BATCH-band-join — the
    * stream-static join is stateless, so no pair can be withheld. The
    * ORACLE, however, is the exact all-pairs Jaccard >= 0.5 set, which
    * banded minhash (b=8, r=2) matches with probability ~0.9 per pair
    * at similarity exactly 0.5; oracle equality holds because the
    * fixture's qualifying pairs sit well above threshold (recall 1 on
    * THIS distribution). A fixture with near-threshold pairs would go
    * red on banding recall, not on a streaming defect.
    */
  def nearDupGate(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val sh = docs.select(col("doc_id").as("_id"),
      Dedup.shingles(col("text"), 3).as("_sh"))
    def bandRows(df: DataFrame, idOut: String): DataFrame =
      Dedup.lshBuckets(df.withColumnRenamed("doc_id", idOut), Seq(idOut),
        Dedup.shingles(col("text"), 3), bands = 8, rows = 2)
    val staticIdx = bandRows(docs.filter(col("doc_id") % 10 === 0),
      "corpus_id")
    val stream = EventStream.fileStream(s, s"$dir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
    val hits = bandRows(stream, "in_id")
      .join(broadcast(staticIdx), Seq("band", "bh"))
      .select(col("in_id"), col("corpus_id"))
    // exact verification of the streamed candidates (batch); the filter
    // reads the ROUNDED Jaccard, the value the oracle thresholds
    val pairs = EventStream.drain(hits)
      .select(least(col("in_id"), col("corpus_id")).as("id_a"),
        greatest(col("in_id"), col("corpus_id")).as("id_b"))
    Dedup.withPayloads(pairs, sh, "_sh")
      .select(col("id_a"), col("id_b"),
        round(Dedup.jaccard(col("_sh_a"), col("_sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }
}
