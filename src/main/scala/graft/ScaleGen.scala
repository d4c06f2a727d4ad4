package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: writes an M× copy of a testdata SF dir by
  * unioning M key-shifted copies of each table (copy 0 is byte-identical to
  * the source), preserving referential integrity within each copy (every
  * foreign key is shifted by the same per-copy offset as its parent table).
  *
  * Content perturbation keeps the duplicate/similarity structure PER COPY
  * rather than multiplying it across copies (a 10× corpus where every doc has
  * 9 verbatim clones would measure the dedup operators on a pathologically
  * denser pair graph, not on 10× data), and the perturbation has NO identity
  * cycle, so cross-copy duplicate DENSITY stays constant at ANY multiplier
  * (the round-5 vowel rotation was cyclic: copies i ≡ j (mod 5) carried
  * verbatim clones from m=6 up):
  *  - documents.text (copy i > 0): a copy-unique CONTENT-KEYED salt token
  *    `zq<i>q<tok>` (tok = the preceding token) is inserted after every 2
  *    tokens, so EVERY k≥3-token window (3-gram shingles, 13-token passages,
  *    winnowing k-grams) contains a salt → cross-copy shingle Jaccard is
  *    exactly 0, below even the LSH banding noise floor. Two rejected
  *    designs, both measured: an every-8 CONSTANT salt (J≈0.28 < the 0.5
  *    threshold) kept OUTPUT density constant but sat inside the banding
  *    S-curve — at r=2/b=16 a J=0.28 pair is a candidate with p≈0.73, so all
  *    m(m-1)/2 cross-copy near pairs reached exact verification (11 min for
  *    q_doc_minhash_neardup at 100×: the fixture, not the engine); an
  *    every-2 CONSTANT salt fixed that but made one identical token ~1/3 of
  *    every doc, collapsing same-copy unigram SimHash signatures toward the
  *    shared salt hash (90 M near-dup pairs at 10×). Keying the salt on the
  *    neighboring token keeps it exactly as diverse as the content — no
  *    dominant token, no signature collapse — while still poisoning every
  *    window against cross-copy matches. INTRA-copy duplicate structure is
  *    preserved (near-identical texts produce near-identical salts);
  *  - embeddings (copy i > 0): a per-copy constant is added to dimension
  *    i % 64, pushing cross-copy cosine below near-dup thresholds.
  * Copy 0 of every table is byte-identical to the source.
  * Fixed-size dimension tables (region, nation) are NOT multiplied — scaling
  * facts against fixed dims is exactly the 100 TB shape (and keeps broadcast
  * joins broadcastable). Queries with literal id bounds (doc_id < 40,
  * vec_id < 500) stay bounded because shifted ids are strictly larger.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <dstDir> <multiplier>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, mStr) = args.take(3)
    val m = mStr.toInt
    require(m >= 1, "multiplier must be >= 1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Harness.session(s"local[$cpus]", cpus, None)

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // per-copy key offsets = 10^ceil(log10(max+1)): round, collision-free,
    // and keeps ids readable (copy index in the high digits)
    def offsetFor(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var off = 1L
      while (off <= mx) off *= 10
      off
    }

    val customer = read("customer"); val custOff = offsetFor(customer, "c_custkey")
    val supplier = read("supplier"); val suppOff = offsetFor(supplier, "s_suppkey")
    val part = read("part"); val partOff = offsetFor(part, "p_partkey")
    val orders = read("orders"); val ordOff = offsetFor(orders, "o_orderkey")
    val lineitem = read("lineitem")
    val documents = read("documents"); val docOff = offsetFor(documents, "doc_id")
    val embeddings = read("embeddings"); val vecOff = offsetFor(embeddings, "vec_id")

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until m).map(i => shift(df, i)).reduce(_ unionAll _)

    // dims: fixed size, copied verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(copies(customer)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + i * custOff)), "customer")
    write(copies(supplier)((d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + i * suppOff)), "supplier")
    write(copies(part)((d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + i * partOff)), "part")
    write(copies(orders)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + i * ordOff)
      .withColumn("o_custkey", col("o_custkey") + i * custOff)), "orders")
    write(copies(lineitem)((d, i) => d
      .withColumn("l_orderkey", col("l_orderkey") + i * ordOff)
      .withColumn("l_partkey", col("l_partkey") + i * partOff)
      .withColumn("l_suppkey", col("l_suppkey") + i * suppOff)), "lineitem")
    // events is NOT scaled here: its ts column is physically TIMESTAMP(NANOS)
    // parquet, which Spark can read (nanosAsLong) but cannot write back — the
    // DuckDB oracles rely on epoch_ns(ts), so the physical type must survive.
    // scripts/scale_events.py multiplies it with pyarrow, schema-preserving.
    write(copies(documents)((d, i) => {
      val shifted = d.withColumn("doc_id", col("doc_id") + i * docOff)
      if (i == 0) shifted // copy 0 byte-identical
      else {
        // the interleave regex needs "tok ws tok ws" — a doc of <= 2 tokens
        // (none exist in the driver fixtures, min is 10; guarded anyway)
        // would pass through UNSALTED and carry verbatim cross-copy text,
        // exactly the densified pair graph this salt prevents. If the regex
        // left the text unchanged, append the per-copy marker instead.
        val salted = regexp_replace(col("text"),
          "(\\S+\\s+(\\S+)\\s+)", s"$$1zq${i}q$$2 ")
        shifted
          .withColumn("text",
            when(salted === col("text"), concat(col("text"), lit(s" zq${i}qs")))
              .otherwise(salted))
          .withColumn("n_chars", length(col("text")))
      }
    }), "documents")
    write(copies(embeddings)((d, i) => {
      val shifted = d.withColumn("vec_id", col("vec_id") + i * vecOff)
      if (i == 0) shifted // copy 0 byte-identical
      else shifted.withColumn("embedding", transform(col("embedding"),
        (v, p) => (v + when(p === lit(i % 64), lit(3.0f * (i % 7 + 1)))
          .otherwise(lit(0.0f))).cast("float")))
    }), "embeddings")

    println(s"[scalegen] wrote ${m}x of $src to $dst " +
      s"(lineitem ${lineitem.count() * m} rows)")
    spark.stop()
  }
}
