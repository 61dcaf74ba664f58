package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up for the past-sf0.1 validation leg (r8
  * VERDICT item 6): replicate a driver-generated sf dir k× with CONSISTENT
  * key offsets across tables, so every foreign-key join, the co-purchase
  * graph derivation, and the events time series stay well-formed — replica
  * i is a disjoint, isomorphic copy of the base corpus (region/nation are
  * fixed-domain dimensions and stay single-copy).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> <k>
  *
  * This is a STRESS HARNESS, not the gate corpus: the driver's gate runs on
  * its own testdata; this tool exists so "scales by design" claims get a
  * measured leg at 10× (bench/NOTES.md records the readings). Document
  * texts get a per-replica suffix so the dedup family sees realistic
  * near-dup structure instead of a degenerate k-fold exact-dup corpus
  * (embeddings stay byte-identical across replicas — exact duplicate
  * vectors ARE the realistic web-scale stress for the ANN/semantic family).
  * Output is one flat parquet FILE per table (coalesce + rename) so the
  * DuckDB oracle tooling reads it exactly like the driver's corpus — but
  * with 2 MB ROW GROUPS: a coalesce(1) write would otherwise emit one
  * ~128 MB+ row group, and a single-row-group file is unsplittable, so
  * every scan-side map stage at the 10×/30× legs ran as ONE task (the r10
  * q_dedup_ngram straggler class). Real tables at any scale are row-group-
  * splittable; the 2 MB block keeps even the string-heavy side tables
  * (events, documents) multi-group, so the legs measure operator
  * scalability instead of a file-layout pathology — without changing a
  * single row. */
object ScaleUp {

  /** Offset unit per key column: max+1 of the base corpus, so replica key
    * ranges never collide. */
  private def keyUnit(df: DataFrame, key: String): Long =
    df.agg(coalesce(max(col(key)), lit(0L)).cast("long")).head().getLong(0) + 1L

  private def writeFlat(df: DataFrame, outDir: String, name: String): Unit = {
    val tmp = s"$outDir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && p.contains("part-"))
    require(part.length == 1, s"expected one part file for $name, got ${part.length}")
    Files.move(Paths.get(part.head), Paths.get(s"$outDir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.list(Paths.get(tmp)).toArray.foreach(p =>
      Files.deleteIfExists(p.asInstanceOf[java.nio.file.Path]))
    Files.deleteIfExists(Paths.get(tmp))
  }

  def main(args: Array[String]): Unit = {
    val (src, out, k) = (args(0), args(1), args(2).toInt)
    require(k >= 1 && k <= 100, s"k must be in [1,100], got $k")
    val spark = Session.local()
    // Splittable output: many 2 MB row groups per (single) file.
    spark.sparkContext.hadoopConfiguration.setInt("parquet.block.size", 2 * 1024 * 1024)
    new java.io.File(out).mkdirs()

    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // One offset unit per replicated key domain, shared by every table
    // that references it.
    val cU = keyUnit(t("customer"), "c_custkey")
    val sU = keyUnit(t("supplier"), "s_suppkey")
    val pU = keyUnit(t("part"), "p_partkey")
    val oU = keyUnit(t("orders"), "o_orderkey")
    val eU = keyUnit(t("events"), "event_id")
    val uU = keyUnit(t("events"), "user_id")
    val dU = keyUnit(t("documents"), "doc_id")
    val vU = keyUnit(t("embeddings"), "vec_id")

    /** Union of k replicas with `shift(df, i)` applied to replica i. */
    def rep(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => shift(df, i)).reduce(_.unionByName(_))

    def off(c: String, unit: Long, i: Int) =
      (col(c) + lit(unit * i)).cast("long").as(c)

    // Fixed-domain dimensions: single copy.
    writeFlat(t("region"), out, "region")
    writeFlat(t("nation"), out, "nation")

    writeFlat(rep(t("customer")) { (df, i) =>
      df.select(off("c_custkey", cU, i), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, out, "customer")

    writeFlat(rep(t("supplier")) { (df, i) =>
      df.select(off("s_suppkey", sU, i), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    }, out, "supplier")

    writeFlat(rep(t("part")) { (df, i) =>
      df.select(off("p_partkey", pU, i), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }, out, "part")

    writeFlat(rep(t("orders")) { (df, i) =>
      df.select(off("o_orderkey", oU, i), off("o_custkey", cU, i),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, out, "orders")

    writeFlat(rep(t("lineitem")) { (df, i) =>
      df.select(off("l_orderkey", oU, i), off("l_partkey", pU, i),
        off("l_suppkey", sU, i), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, out, "lineitem")

    writeFlat(rep(t("events")) { (df, i) =>
      df.select(off("event_id", eU, i), col("ts"), off("user_id", uU, i),
        col("event_type"), col("value"), col("props"))
    }, out, "events")

    // Replica tag keeps the dedup family realistic (near-dups across
    // replicas, not k-fold exact dups); n_chars tracks the new length.
    writeFlat(rep(t("documents")) { (df, i) =>
      if (i == 0) df
      else df.select(off("doc_id", dU, i),
        concat(col("text"), lit(s" ~r$i")).as("text"), col("lang"),
        col("source"), (col("n_chars") + lit(s" ~r$i".length.toLong)).as("n_chars"))
    }, out, "documents")

    writeFlat(rep(t("embeddings")) { (df, i) =>
      df.select(off("vec_id", vU, i), col("embedding"), col("label"))
    }, out, "embeddings")

    // Identity proof for the committed artifacts (r10 verdict item 4):
    // rows + order-independent content checksum per table, verified by
    // Verify/Bench on startup whenever a regenerated corpus is used.
    graft.tables.Manifest.write(spark, out)
    // Graph census (r12 verdict item 1): |V|/|E|/degree/triangle totals for
    // the derived co-purchase + kernel graphs, written next to the
    // manifest so every leg artifact carries its own denominator. Replicas
    // are disjoint isomorphic copies, so each quantity must be exactly k×
    // the base corpus's — any deviation is a generator bug.
    val census = graft.tools.GraphCensus.censusJson(spark, out)
    Files.writeString(Paths.get(s"$out/census.json"), census + "\n")
    println(s"[census] $census")
    println(s"scaled $src x$k -> $out")
    spark.stop()
  }
}
