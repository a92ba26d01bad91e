package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe data generator: replicate a testdata scale-factor directory
  * `factor`× the way the driver's own generator scales (verified sf0.01 →
  * sf0.1: rows and entity-key domains grow 10×, the event time window and
  * the dimension tables stay FIXED — densification, not extension).
  *
  * Per replica r (replica 0 is the original, byte-identical):
  *  - every entity key shifts by r × (max(key) + 1) of its domain, with
  *    events.user_id sharing the customer-key stride so user↔customer
  *    joins stay within-replica;
  *  - document text gets a replica-specific suffix on words of length
  *    >= 5 — within-replica dup/near-dup/containment structure is
  *    preserved exactly (the transform is a per-word bijection) while
  *    cross-replica Jaccard collapses, so dedup candidate volume scales
  *    the way a real 10× corpus does (stopwords and token counts are
  *    untouched, keeping the quality/lang gate pass-rates stable);
  *  - embedding vectors are re-drawn per replica from a hash of
  *    (vec_id, dim index) — fresh directions, so ANN bucket occupancy
  *    grows like a real corpus instead of collapsing onto 4 exact copies
  *    (embeddings scale factor/2.5, matching the generator's 4× per 10×).
  *
  * Usage: `SPARK_GRAFT_CPUS=32 runMain graft.tools.ScaleUp <srcSfDir> <outDir> <factor>`
  * (threads from `SPARK_GRAFT_CPUS`, default 4; the tool ran on 32 threads
  * before it got its session from `graft.core.Session`)
  * This is probe tooling: outputs live outside the repo and are never an
  * oracle input (DuckDB correctness always runs on driver-written data).
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    // optional 4th arg: comma list of tables to (re)build into an existing
    // probe dir (e.g. "embeddings" with a larger factor to scale ONE op's
    // input axis independently — the fourth-decade tail probes); default all
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val spark = graft.core.Session(src)

    def table(n: String): DataFrame = graft.core.Tables(spark, src, n)
    // cast before getLong: key columns are int64 today, but an int32
    // regeneration would otherwise throw ClassCastException here
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key)).cast("long")).head.getLong(0) + 1L
    def replicate(df: DataFrame, n: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(r => f(df, r)).reduce(_ unionByName _)
    def write(df: DataFrame, n: String): Unit =
      if (only.isEmpty || only(n))
        df.write.mode("overwrite").parquet(s"$out/$n.parquet")

    // fixed dims: copy verbatim (the generator never scales them)
    write(table("region"), "region")
    write(table("nation"), "nation")

    val kCust = stride(table("customer"), "c_custkey")
    val kOrd = stride(table("orders"), "o_orderkey")
    val kPart = stride(table("part"), "p_partkey")
    val kSupp = stride(table("supplier"), "s_suppkey")
    val kEv = stride(table("events"), "event_id")
    val kDoc = stride(table("documents"), "doc_id")
    val kVec = stride(table("embeddings"), "vec_id")

    // Entity NAMES must scale with their keys: the generator's own
    // sf0.01 → sf0.1 step grows the name-number domain 10×, and the
    // identity/fuzzy-join family (u2/u2b/u2c, j7) blocks on the digit
    // string inside c_name/s_name. Replicating keys but not names leaves
    // 10 byte-identical copies of the whole name domain — measured 10M
    // equal-num candidate pairs at sf10 (100× sf1): a quadratic artifact
    // of the probe data, not of the operators. Fix: replica r >= 1 inserts
    // a DOUBLED two-digit replica code after '#' (e.g. '#0303...').
    //  - within a replica, the code is a common prefix of every num, and
    //    edit distance is invariant under common-prefix removal — the
    //    replica's lev <= k pair structure is byte-preserved;
    //  - across replicas, distinct doubled codes differ in >= 2 positions
    //    of equal-length strings (and a 1-shift alignment costs a
    //    delete + insert = 2), so cross-replica nums sit at lev >= 2 —
    //    outside every gate the engine uses (all are <= 1);
    //  - blk = num % 100 reads the unchanged low digits, so block
    //    assignment and per-block occupancy match the generator's.
    def nameShift(df: DataFrame, nameCol: String, r: Int): DataFrame =
      if (r == 0) df
      else df.withColumn(nameCol,
        regexp_replace(col(nameCol), "#", f"#$r%02d$r%02d"))
    write(replicate(table("customer"), factor)((df, r) =>
      nameShift(df.withColumn("c_custkey", col("c_custkey") + lit(r * kCust)),
        "c_name", r)), "customer")
    write(replicate(table("supplier"), factor)((df, r) =>
      nameShift(df.withColumn("s_suppkey", col("s_suppkey") + lit(r * kSupp)),
        "s_name", r)), "supplier")
    write(replicate(table("part"), factor)((df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * kPart))), "part")
    write(replicate(table("orders"), factor)((df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * kOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(r * kCust))), "orders")
    write(replicate(table("lineitem"), factor)((df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * kOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(r * kPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * kSupp))), "lineitem")

    // events: ts stays in TimestampType after the nanos conversion — the
    // probe events table reads back without the nanos flag.
    // Each replica shifts by the full source time span + 1 day, so the
    // event window EXTENDS with the factor (a real corpus accumulates
    // history) instead of densifying a fixed window — per-time-bucket
    // occupancy stays constant and proximity-join candidate volume scales
    // linearly. Per-user deltas are shift-invariant, so within-replica
    // session/funnel/cooldown structure is byte-identical to the source.
    val ev = graft.core.Tables.events(spark, src)
    val spanRow = ev.agg(
      (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("span")).head
    val shiftUs = spanRow.getLong(0) + 86400L * 1000000L
    write(replicate(ev, factor)((df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * kEv))
        .withColumn("user_id", col("user_id") + lit(r * kCust))
        .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + lit(r * shiftUs)))),
      "events")

    // documents: per-replica word bijection (suffix letter on words >= 5
    // chars); replica 0 untouched
    write(replicate(table("documents"), factor) { (df, r) =>
      if (r == 0) df
      else {
        // UNIQUE per-replica suffix (base-26, variable length): factors
        // > 26 must not reuse letters, or replicas 26 apart would keep
        // their cross-replica near-dup structure and inflate dup-cluster
        // sizes ~factor/26× — distorting the Σcluster² exponent the
        // scale probes measure. r-1 < 26 stays the single char earlier
        // probes used, so sf1/sf3 regenerations are byte-stable.
        val suffix = {
          val sb = new StringBuilder
          var x = r - 1
          while ({ sb.append(('a' + x % 26).toChar); x /= 26; x > 0 }) ()
          sb.toString
        }
        df.withColumn("doc_id", col("doc_id") + lit(r * kDoc))
          .withColumn("text", expr(
            s"""array_join(transform(split(text, ' '),
               |  w -> CASE WHEN length(w) >= 5 THEN concat(w, '$suffix')
               |       ELSE w END), ' ')""".stripMargin))
          .withColumn("n_chars", length(col("text")))
      }
    }, "documents")

    // embeddings: generator scales these ~4× per decade; re-draw vectors
    // from a (vec_id, index, replica) hash so directions are fresh
    val embFactor = math.max(1, (factor * 2) / 5)
    val dim = table("embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    write(replicate(table("embeddings"), embFactor) { (df, r) =>
      if (r == 0) df
      else df.withColumn("vec_id", col("vec_id") + lit(r * kVec))
        .withColumn("embedding", expr(
          s"""transform(sequence(0, ${dim - 1}), i ->
             |  CAST(pmod(xxhash64(vec_id, i, $r), 2000001) / 1000000.0 - 1.0
             |    AS FLOAT))""".stripMargin))
    }, "embeddings")

    val counts = Seq("customer", "orders", "lineitem", "events", "documents",
      "embeddings").map(t => s"$t=${spark.read.parquet(s"$out/$t.parquet").count()}")
    println(s"[scaleup] ${counts.mkString(" ")} -> $out")
    spark.stop()
  }
}
