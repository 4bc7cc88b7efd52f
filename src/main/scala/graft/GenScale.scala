package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up synthesizer: derive an N×-scale dataset from an existing sf
  * directory (default sf0.1 → target/sf1, N=10) so the scale sweep
  * (graft.ScaleSweep) can measure per-query scaling exponents on data
  * 10× past the largest shipped test scale.
  *
  * The synthesis is N disjoint "copies" with key remapping chosen so the
  * statistical shape a LARGER corpus would have is preserved, not
  * degenerate duplication:
  *  - Join keys are offset per copy (custkey/orderkey/partkey/suppkey/
  *    doc_id/vec_id), so every copy joins only within itself — fan-outs
  *    per key stay constant while key cardinality grows N×, which is how
  *    real growth behaves (more customers, not more orders per customer).
  *  - events get INTERLEAVED ids (id·N + copy) — the table stays
  *    ts-ordered in event_id order, which the Replayer's contiguous-id
  *    batch split requires; ts is left as the source's raw int64 nanos so
  *    the Tables.events contract is unchanged. user_id moves with the
  *    customer offset. Events per hour grow N× — the streaming state per
  *    window scales, the window count does not, matching a busier (not
  *    longer-lived) stream.
  *  - documents: copy k ≥ 1 suffixes every token with "_k" — within-copy
  *    token/df structure (and thus dup/near-dup structure, span dups,
  *    quality features) is EXACTLY the source's, while cross-copy
  *    similarity is zero: dedup candidate sets grow linearly like a real
  *    corpus, never quadratically like naive duplication would.
  *  - embeddings: copy k rotates the 64 dims by 8·k positions — norms
  *    and within-copy geometry preserved, cross-copy cosine decorrelated
  *    (the corpus is near-random unit vectors), no near-dup inflation.
  *  - region/nation are fixed-size dimensions (as in TPC-H) and copy 1×.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val s = Harness.session()
    gen(s, src, out, n)
    println(s"[genscale] wrote $out ($n x $src)")
    s.stop()
  }

  /** One row per copy index 0..n-1 crossed onto df (cp column). */
  private def fan(df: DataFrame, n: Int): DataFrame =
    df.withColumn("cp", explode(sequence(lit(0L), lit(n - 1L))))

  private def maxOf(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head().getLong(0) + 1L

  def gen(s: SparkSession, src: String, out: String, n: Int): Unit = {
    import graft.core.Tables
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    // fixed-size dimensions: copy through
    write(Tables.region(s, src), "region")
    write(Tables.nation(s, src), "nation")

    val cust = Tables.customer(s, src)
    val ords = Tables.orders(s, src)
    val prt = Tables.part(s, src)
    val supp = Tables.supplier(s, src)
    val co = maxOf(cust, "c_custkey")
    val oo = maxOf(ords, "o_orderkey")
    val po = maxOf(prt, "p_partkey")
    val so = maxOf(supp, "s_suppkey")

    write(fan(cust, n)
      .withColumn("c_custkey", col("c_custkey") + col("cp") * co)
      .drop("cp"), "customer")
    write(fan(supp, n)
      .withColumn("s_suppkey", col("s_suppkey") + col("cp") * so)
      .drop("cp"), "supplier")
    write(fan(prt, n)
      .withColumn("p_partkey", col("p_partkey") + col("cp") * po)
      .drop("cp"), "part")
    write(fan(ords, n)
      .withColumn("o_orderkey", col("o_orderkey") + col("cp") * oo)
      .withColumn("o_custkey", col("o_custkey") + col("cp") * co)
      .drop("cp"), "orders")
    write(fan(Tables.lineitem(s, src), n)
      .withColumn("l_orderkey", col("l_orderkey") + col("cp") * oo)
      .withColumn("l_partkey", col("l_partkey") + col("cp") * po)
      .withColumn("l_suppkey", col("l_suppkey") + col("cp") * so)
      .drop("cp"), "lineitem")

    // events: raw read passes ts through in whatever physical type the
    // source generation used (int64 nanos under Harness.builder's
    // legacy `nanosAsLong` conf, or TIMESTAMP_NTZ for the current
    // TIMESTAMP_MICROS data) — the synthesized copy keeps the same type,
    // and Tables.events normalizes at load. Interleaved ids keep the
    // table ts-ordered in event_id order (the Replayer's contiguous-id
    // batch split requires it).
    val ev = s.read.parquet(s"$src/events.parquet")
    write(fan(ev, n)
      .withColumn("event_id", col("event_id") * n + col("cp"))
      .withColumn("user_id", col("user_id") + col("cp") * co)
      .drop("cp"), "events")

    val docs = Tables.documents(s, src)
    val ddo = maxOf(docs, "doc_id")
    write(fan(docs, n)
      .withColumn("text", when(col("cp") === 0, col("text")).otherwise(
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_"), col("cp"))), " ")))
      .withColumn("doc_id", col("doc_id") + col("cp") * ddo)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("cp"), "documents")

    val emb = Tables.embeddings(s, src)
    val vo = maxOf(emb, "vec_id")
    write(fan(emb, n)
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), j -> " +
        "element_at(embedding, CAST((j + 8 * cp) % 64 AS INT) + 1))"))
      .withColumn("vec_id", col("vec_id") + col("cp") * vo)
      .drop("cp"), "embeddings")
  }
}
