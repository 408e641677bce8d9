package graft

import org.apache.spark.sql.functions._

/** Generates a stress-scale synthetic data dir with the SAME table schemas
  * as the driver's testdata (`events.parquet`, `documents.parquet`), so the
  * exact `SparkEntry.queries` entries (via `graft.Bench <names>`) and the
  * exact `oracleSql` strings (via `tools/crossover.py`) run unmodified
  * against 100x the gate's sf0.1 volume.
  *
  * Why this exists: several sub-1.5 s queries are fixed-cost dominated at
  * sf0.1 (Spark's ~0.3-0.5 s job launch vs DuckDB's ~0 ms) and read >2x
  * over the oracle there. The honest comparison for a cluster engine is at
  * data scale — this dir provides it without touching the driver's gate.
  * Same deterministic-arithmetic generation style as [[Stress]]; shapes
  * mirror the testdata distributions (30-day span, 5 event types, ~1 event
  * per user per 26 min; 50-word docs over a 5k vocab, 5 langs, 20 sources)
  * scaled 100x.
  *
  * Usage: `runMain graft.CrossoverGen <outDir> [nEvents=10M] [nDocs=500k]
  * [nVecs=200k]`.
  */
object CrossoverGen {

  def main(args: Array[String]): Unit = {
    val dir     = args.headOption.getOrElse("/tmp/crossover_sf10")
    val nEvents = args.lift(1).map(_.toLong).getOrElse(10000000L)
    val nDocs   = args.lift(2).map(_.toLong).getOrElse(500000L)
    val nVecs   = args.lift(3).map(_.toLong).getOrElse(200000L)
    val spark = Harness.session()

    val t0     = 1704067200000L // 2024-01-01T00:00:00Z, same epoch as testdata
    val spanMs = 30L * 86400000L
    val nUsers = math.max(1500L, nEvents / 67L) // testdata density: ~67 events/user
    val types  = array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*)

    val events = spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_millis(lit(t0) + pmod(col("id") * lit(2654435761L), lit(spanMs))).as("ts"),
      pmod(col("id") * lit(31L), lit(nUsers)).as("user_id"),
      element_at(types, (pmod(col("id"), lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(col("id") * lit(7L), lit(10000L)) / lit(100.0)).as("value"),
      concat(lit("{\"k\": "), pmod(col("id"), lit(97L)), lit("}")).as("props"))
    events.repartition(64)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val langs   = array(Seq("en", "de", "es", "fr", "it").map(lit): _*)
    val docText = concat_ws(" ", transform(sequence(lit(0), lit(49)),
      i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(5000L)))))
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      docText.as("text"),
      element_at(langs, (pmod(col("id"), lit(5)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // embeddings: 64-dim, same schema as testdata (vec_id, embedding
    // FLOAT[], label). Base vectors are deterministic hash-uniform in
    // [-1, 1] per dimension — pairwise cosine concentrates at 0 ± 1/8, so
    // the SemDeDup threshold (0.4) fires only on the PLANTED structure:
    // the last 5% of ids are near-twins of a base vector (base + ±0.01/dim
    // perturbation, cosine ≈ 0.9998), exercising pair search, components
    // and the keep rule with a known answer shape at crossover volume.
    val nTwins  = nVecs / 20L
    val nBase   = nVecs - nTwins
    val srcId   = when(col("id") >= nBase,
      pmod((col("id") - nBase) * lit(19L), lit(nBase))).otherwise(col("id"))
    val dims = sequence(lit(0), lit(63))
    val base = transform(dims, i =>
      (pmod(xxhash64(srcId, i), lit(2001L)) - lit(1000L)).cast("double") / 1000.0)
    val eps = transform(dims, i =>
      when(col("id") >= nBase,
        (pmod(xxhash64(col("id"), i, lit(7L)), lit(21L)) - lit(10L))
          .cast("double") / 1000.0).otherwise(lit(0.0)))
    spark.range(nVecs).select(
      col("id").as("vec_id"),
      zip_with(base, eps, (b, e) => (b + e).cast("float")).as("embedding"),
      pmod(col("id"), lit(100L)).cast("int").as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // customer: same schema/domains as testdata (25 nations, 5 segments,
    // acctbal in [-999.99, 9999.99]) at nEvents rows — the privacy-family
    // crossover corpus. The QI domain stays BOUNDED while the row count
    // scales 100x, which is exactly the privacy operators' scale claim
    // (bounded group tables over an unbounded corpus).
    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    spark.range(nEvents).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(col("id") * lit(17L), lit(25L)).cast("int").as("c_nationkey"),
      ((pmod(col("id") * lit(9176L) + lit(31L), lit(1099999L)) - lit(99999L))
        .cast("double") / 100.0).as("c_acctbal"),
      element_at(segs, (pmod(col("id") * lit(7L), lit(5L)) + 1).cast("int"))
        .as("c_mktsegment"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

    // orders: priorities + totalprice in the testdata domain at nEvents
    // rows — the ladder-chosen release query's crossover corpus
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    spark.range(nEvents).select(
      col("id").as("o_orderkey"),
      pmod(col("id") * lit(13L), lit(nUsers)).as("o_custkey"),
      when(pmod(col("id"), lit(2L)) === 0, lit("F")).otherwise(lit("O"))
        .as("o_orderstatus"),
      ((pmod(col("id") * lit(48611L) + lit(101L), lit(49900000L)) + lit(101300L))
        .cast("double") / 100.0).as("o_totalprice"),
      timestamp_millis(lit(t0) + pmod(col("id") * lit(104729L), lit(spanMs)))
        .as("o_orderdate"),
      element_at(prios, (pmod(col("id") * lit(11L), lit(5L)) + 1).cast("int"))
        .as("o_orderpriority"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

    println(s"""{"dir":"$dir","events":$nEvents,"docs":$nDocs,"vecs":$nVecs,"users":$nUsers}""")
    spark.stop()
  }
}
