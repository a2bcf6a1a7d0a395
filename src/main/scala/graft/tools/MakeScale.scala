package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generates a FACTOR× scale-up of a driver fixture dir for the sf1
  * scale probe (BASELINE.md). The driver only ships sf0.001/0.01/0.1;
  * the reference pins its own corpus at SF=1
  * (`test-scripts/test_tpcds.sh:22` in /root/reference), so scaling
  * claims need at least one measurement at that scale.
  *
  * Scaling model (documented, intentional):
  *  - Dim tables (region/nation/customer/supplier/part) are copied
  *    UNCHANGED — at 100 TB dims are corpus-size-independent, so a
  *    fact-side 10× with fixed dims is the realistic shape.
  *  - orders/lineitem replicate with o_orderkey offset per replica
  *    (key space stays dense and join-consistent).
  *  - events replicate with event_id and user_id offsets (user
  *    cardinality grows with the corpus, as in production).
  *  - documents replicate with doc_id offset and per-replica word
  *    salting (replica 0 keeps the original text): exact/near-dup
  *    structure is preserved WITHIN a replica but vocabularies are
  *    disjoint ACROSS replicas, so dedup pair counts scale ~linearly —
  *    replicating text verbatim would grow LSH pair outputs
  *    quadratically and measure output explosion, not engine scaling.
  *  - embeddings replicate with vec_id offset and deterministic
  *    per-element jitter (~1e-2 max) so vectors are near- but not
  *    exact-duplicates and IVF/LSH bucket occupancy grows ~linearly.
  *
  * Usage: runMain graft.tools.MakeScale [srcDir] [dstDir] [factor]
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(32)

    def read(n: String): DataFrame = graft.Tables.load(spark, src, n)
    def write(df: DataFrame, n: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$n.parquet")
      println(s"[make-scale] wrote $n")
    }
    // replicate: one row per (row, rep) — a single scan, no self-union
    def reps(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0L), lit(factor - 1L))))

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(read(n), n))

    // cast to long BEFORE extraction: the fixture contract permits
    // int32/int16 key columns, which would ClassCastException here (r10 advice)
    val maxOk = read("orders").agg(max(col("o_orderkey").cast("long"))).head.getLong(0) + 1
    write(reps(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * maxOk)
      .drop("rep"), "orders")
    write(reps(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * maxOk)
      .drop("rep"), "lineitem")

    val ev = read("events")
    val Array(maxEv, maxUser) =
      ev.agg(max(col("event_id").cast("long")), max(col("user_id").cast("long")))
        .head.toSeq.map(_.asInstanceOf[Long] + 1).toArray
    write(reps(ev)
      .withColumn("event_id", col("event_id") + col("rep") * maxEv)
      .withColumn("user_id", col("user_id") + col("rep") * maxUser)
      .drop("rep"), "events")

    val docs = read("documents")
    val maxDoc = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0) + 1
    write(reps(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * maxDoc)
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit("_"), col("rep"))), " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep"), "documents")

    val emb = read("embeddings")
    val maxVec = emb.agg(max(col("vec_id").cast("long"))).head.getLong(0) + 1
    write(reps(emb)
      .withColumn("embedding", when(col("rep") === 0, col("embedding")).otherwise(
        transform(col("embedding"), (x, i) =>
          (x + (pmod(hash(col("vec_id"), i, col("rep")), lit(2001)) - 1000)
            .cast("float") * lit(1e-5f)).cast("float"))))
      .withColumn("vec_id", col("vec_id") + col("rep") * maxVec)
      .drop("rep"), "embeddings")

    spark.stop()
  }
}
