package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Pins the ENGINE-FACING schema of every driver table, at every SF the
  * box carries. The driver regenerates testdata between rounds and has
  * already drifted once (round 6: `events.ts` flipped from parquet
  * TIMESTAMP(NANOS) to plain `timestamp[us]`/NTZ, silently breaking
  * q42 + 8 specs). This spec turns the next drift into a named failure
  * with the table, column, and type in the message.
  *
  * The pinned types are post-[[Tables.apply]] normalization — the
  * contract operators compile against — NOT the raw parquet types.
  * `events.ts` MUST be `timestamp` (TimestampType): `unix_millis`,
  * `unix_micros`, and streaming event-time watermarks all reject NTZ.
  * `o_orderdate`/`l_shipdate` are pinned at their current NTZ reading
  * (oracle-green through every date query); if the generator changes
  * them, this fails and the queries get re-audited rather than
  * silently re-hashed.
  *
  * [[Tables.apply]] infers a table's schema once per unchanged file set
  * and reads with it after that, so every pin holds on the first read
  * of a fresh copy (the inferring read) and on the memoized one; the
  * memo's own contract follows the pins.
  */
class TableSchemaSpec extends AnyFunSuite with TempDirs {
  import TestSpark.{jobsOf, spark}
  import spark.implicits._

  private val expected: Map[String, String] = Map(
    "region"     -> "r_regionkey:int, r_name:string",
    "nation"     -> "n_nationkey:int, n_name:string, n_regionkey:int",
    "customer"   -> ("c_custkey:bigint, c_name:string, c_nationkey:int, " +
                     "c_acctbal:double, c_mktsegment:string"),
    "supplier"   -> "s_suppkey:bigint, s_name:string, s_nationkey:int, s_acctbal:double",
    "part"       -> ("p_partkey:bigint, p_name:string, p_brand:string, p_type:string, " +
                     "p_size:int, p_retailprice:double"),
    "orders"     -> ("o_orderkey:bigint, o_custkey:bigint, o_orderstatus:string, " +
                     "o_totalprice:double, o_orderdate:timestamp_ntz, o_orderpriority:string"),
    "lineitem"   -> ("l_orderkey:bigint, l_partkey:bigint, l_suppkey:bigint, " +
                     "l_linenumber:int, l_quantity:double, l_extendedprice:double, " +
                     "l_discount:double, l_tax:double, l_returnflag:string, " +
                     "l_linestatus:string, l_shipdate:timestamp_ntz"),
    "events"     -> ("event_id:bigint, ts:timestamp, user_id:bigint, " +
                     "event_type:string, value:double, props:string"),
    "documents"  -> "doc_id:bigint, text:string, lang:string, source:string, n_chars:bigint",
    "embeddings" -> "vec_id:bigint, embedding:array<float>, label:int"
  )

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => s"/root/testdata/$s")
    .filter(d => new java.io.File(d).isDirectory)

  test("at least one testdata SF dir exists") {
    assert(sfDirs.nonEmpty, "no /root/testdata/sf* dirs — harness layout changed")
  }

  for (dir <- sfDirs; name <- Tables.all)
    test(s"engine-facing schema pinned: $name @ ${dir.split('/').last}") {
      // a fresh copy: its first read infers, its second hits the memo
      val copy = tempDir("graft_schema_pin")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/$name.parquet"),
        copy.resolve(s"$name.parquet"))
      for ((d, read) <- Seq(copy.toString -> "first read", copy.toString -> "memo hit",
                            dir -> "testdata read")) {
        val got = Tables(spark, d, name).schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
        assert(got == expected(name),
          s"\nDRIVER TESTDATA SCHEMA DRIFT on '$name' ($dir, $read):" +
          s"\n  expected: ${expected(name)}\n  got:      $got" +
          "\nIf the new type is intentional, normalize it in Tables.apply" +
          " (engine contract) or re-pin here AND re-audit every query" +
          " touching the changed column.")
      }
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("Tables: a second read of an unchanged table launches no job and equals a fresh read") {
    val dir = tempDir("graft_schema_memo").toString
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
      .write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsOf(Tables(spark, dir, "t").schema)
    assert(first.nonEmpty, "the first read infers the schema with a job")
    val (second, jobs) = jobsOf {
      val df = Tables(spark, dir, "t")
      df.schema
      df
    }
    assert(jobs.isEmpty, s"a memoized read launched jobs: $jobs")
    val fresh = spark.read.parquet(s"$dir/t.parquet")
    assert(second.schema == fresh.schema)
    assert(rows(second) == rows(fresh))
  }

  test("Tables: a table rewritten at the same path reads its new schema, rows and split count") {
    val dir = tempDir("graft_schema_rewrite").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(path)
    val cores = spark.sparkContext.defaultParallelism
    def spreads: Boolean = Tables.spreadTable(spark, dir, "t").queryExecution.logical
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation])
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    assert(Tables(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    // one file scans as one split: spread floors it to the core count
    assert(spreads && spreads)
    // rewritten: another schema, another row count, 2x cores files
    spark.range(0, 50, 1, cores * 2)
      .select(col("id").cast("int").as("k"), (col("id") * 2.0).as("v"),
        lit("z").as("tag"))
      .write.mode("overwrite").parquet(path)
    val back = Tables(spark, dir, "t")
    val fresh = spark.read.parquet(path)
    assert(back.schema == fresh.schema)
    assert(back.schema.fieldNames.toSeq == Seq("k", "v", "tag"))
    assert(back.count() == 50L)
    assert(rows(back) == rows(fresh))
    // the split count is probed again: the new files already scan as at
    // least one split per core, and a stale count of 1 would spread them
    assert(fresh.rdd.getNumPartitions >= cores)
    assert(!spreads,
      "spread served a split count memoized for the old files")
  }
}
