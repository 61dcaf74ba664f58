package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.Tables

/** Source/sink round-trips beyond parquet (SURVEY.md §2.2 scans/sources/
  * sinks): CSV and JSON-lines writes read back value-identical, with schema
  * carried explicitly (the 100 TB posture: never infer schema on the read
  * path). */
class SourceFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = Corpus.dir("sf0.001")

  private def roundTrip(format: String): Unit = {
    val dir = Files.createTempDirectory(s"graft_$format").toString
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
    src.write.mode("overwrite").format(format)
      .option("header", "true").save(dir)
    val back = spark.read.format(format)
      .option("header", "true").schema(src.schema).load(dir)
    assert(back.count() === src.count())
    assert(back.schema === src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      s"$format round-trip not value-identical")
  }

  test("csv round-trip preserves values and schema")(roundTrip("csv"))
  test("json round-trip preserves values and schema")(roundTrip("json"))

  test("binaryFile round-trip: every file's content bytes equal the source text") {
    graft.sources.SinkQueries.qSourceBinary(spark, sf).collect() // writes the files
    val back = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(graft.sources.SinkQueries.sinkPath(sf, "documents_bin"))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
        col("content").cast("string").as("txt"))
    // The asset set is the q_sample_hash 10% md5 shard (pure function of
    // doc_id — same cut the oracle applies).
    val docs = Tables.documents(spark, sf)
      .filter(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(100L)) < 10)
      .select(col("doc_id"), col("text"))
    assert(back.count() === docs.count())
    assert(back.count() > 0L, "sampled asset shard must be non-empty")
    val mismatched = back.join(docs, "doc_id")
      .filter(col("txt") =!= col("text")).count()
    assert(mismatched === 0L)
  }

  test("partitioned parquet write + partition-pruned read") {
    val dir = Files.createTempDirectory("graft_part").toString
    Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1995)
    pruned.collect()
    val p = pruned.queryExecution.executedPlan.toString
    // The year predicate must prune at the partition-directory level, not
    // scan-and-filter — the difference between reading one partition and
    // reading 100 TB.
    assert(p.contains("PartitionFilters: [") && p.contains("o_year"),
      s"no partition pruning in scan:\n$p")
    val expected = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(pruned.count() === expected)
  }

  test("zorder layout: disjoint per-file zv ranges, box filter skips files") {
    import graft.sources.SinkQueries
    // Run the query (writes the clustered layout as a side effect) and
    // check the result row is non-vacuous.
    val row = SinkQueries.qZorder(spark, sf).head()
    assert(row.getLong(0) > 0, "the box predicate must match rows")
    val out = s"/tmp/graft_sink/${new java.io.File(sf).getName}/lineitem_zorder"
    // Range partitioning on zv ⇒ per-file [min, max] zv intervals are
    // pairwise disjoint — the property parquet min/max skipping prunes by.
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("zv")).as("lo"), max(col("zv")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length > 1, "expected multiple files")
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, "per-file zv ranges must not interleave")
      case _ => ()
    }
    // Data skipping: the (partkey, suppkey) box is z-clustered into a
    // strict subset of the files.
    val all = spark.read.parquet(out)
      .select(input_file_name()).distinct().count()
    val hit = spark.read.parquet(out)
      .filter(col("l_partkey").between(1L, 100L) &&
        col("l_suppkey").between(1L, 5L))
      .select(input_file_name()).distinct().count()
    assert(hit < all, s"box touched all $all files — no clustering benefit")
  }

  test("bucketed table join plans no exchange on the bucketed key") {
    // Separate session only for the isolated runtime conf (warehouse.dir is
    // static — tables land in the gitignored default spark-warehouse/).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    for (t <- Seq("b_orders", "b_lineitem")) {
      s2.sql(s"DROP TABLE IF EXISTS $t")
      // A previous JVM's managed-table directory survives the in-memory
      // catalog; CREATE refuses an existing location.
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
    }
    val orders = Tables.orders(s2, sf).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s2, sf).select(col("l_orderkey"), col("l_quantity"))
    orders.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("b_lineitem")
    val j = s2.table("b_orders").join(s2.table("b_lineitem"),
      col("o_orderkey") === col("l_orderkey"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    // Co-bucketed layout replaces both shuffle exchanges — at cluster scale
    // this is the difference between a co-located join and reshuffling two
    // 100 TB fact tables.
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    assert(j.count() === orders.join(li, col("o_orderkey") === col("l_orderkey")).count())
  }

  test("compaction collapses the fragmented layout, conserves content, clusters the key") {
    import graft.sources.SinkQueries
    val result = SinkQueries.qCompact(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    // File layout: 64 fragments in, ceil(rows/target) out (1 at this SF).
    val before = SinkQueries.partFileCount(sf, "lineitem_frag")
    val after = SinkQueries.partFileCount(sf, "lineitem_compact")
    assert(before === 64 && after === 1, s"before=$before after=$after")
    // Content conservation against the original table.
    val direct = graft.tables.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(result.toSeq === direct.toSeq)
    // Range partition + sortWithinPartitions leaves the key clustered:
    // the single output file reads back in non-decreasing key order, so
    // row-group min/max stats skip on l_orderkey post-compaction.
    val keys = spark.read.parquet(
      graft.sources.SinkQueries.sinkPath(sf, "lineitem_compact"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.nonEmpty)
    assert(keys.sliding(2).forall {
      case Array(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)
      case _ => true
    }, "compacted file must be sorted on (l_orderkey, l_linenumber)")
  }
}
