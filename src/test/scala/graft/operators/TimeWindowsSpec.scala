package graft.operators

import java.time.LocalDate

/** Golden tests ported from dqa/tests/test_data_getters.py:37-76. */
class TimeWindowsSpec extends graft.SparkSpec {
  import TimeWindows._

  private def d(s: String): LocalDate = LocalDate.parse(s)

  test("mondayOfWeek golden values (test_monday_of_week)") {
    val cases = Seq(
      "2021-11-07" -> "2021-11-01",
      "2021-11-08" -> "2021-11-08", // a Monday
      "2021-11-09" -> "2021-11-08",
      "2021-11-10" -> "2021-11-08",
      "2021-11-11" -> "2021-11-08",
      "2021-11-12" -> "2021-11-08",
      "2021-11-13" -> "2021-11-08",
      "2021-11-14" -> "2021-11-08",
      "2021-11-15" -> "2021-11-15",
      "2021-11-16" -> "2021-11-15",
      "2021-11-17" -> "2021-11-15",
      "2012-01-05" -> "2012-01-02",
      "1997-02-17" -> "1997-02-17",
    )
    cases.foreach { case (in, out) =>
      assert(mondayOfWeek(d(in)) == d(out), s"for $in")
    }
  }

  test("iterdates golden list (test_iterdates)") {
    val got = iterdates(d("2021-02-01"), d("2021-03-01"), timespanWeeks = 2)
    val want = Seq(
      (d("2021-01-18"), d("2021-02-01")),
      (d("2021-01-25"), d("2021-02-08")),
      (d("2021-02-01"), d("2021-02-15")),
      (d("2021-02-08"), d("2021-02-22")),
      (d("2021-02-15"), d("2021-03-01")),
    )
    assert(got == want)
  }

  test("snapshot anchor = 15th of previous month") {
    assert(snapshotAnchor(d("2021-11-20")) == d("2021-10-15"))
    assert(snapshotAnchor(d("2021-01-05")) == d("2020-12-15"))
    assert(snapshotAnchor(d("2021-03-31")) == d("2021-02-15"))
  }

  test("dateSpine is inclusive and stepped") {
    val rows = dateSpine(spark, d("2021-02-01"), d("2021-03-01"), 7)
      .collect().map(_.getDate(0).toLocalDate)
    assert(rows.toSeq == Seq(d("2021-02-01"), d("2021-02-08"),
      d("2021-02-15"), d("2021-02-22"), d("2021-03-01")))
  }
}

/** EWMA integer-unit smoother: closed forms on constant and impulse
  * series pin the dyadic-weight expansion.
  */
class EwmaSpec extends graft.SparkSpec {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import spark.implicits._

  // the registered query's coefficient set, rebuilt independently
  private val coefs = (0 to 7).map(k => BigInt(3).pow(k).toLong << (14 - 2 * k))

  test("coefficients are (1/4)(3/4)^k scaled by 2^16, and sum to 1-(3/4)^8") {
    for (k <- 0 to 7)
      assert(BigDecimal(coefs(k)) / 65536 ==
        BigDecimal(0.25) * BigDecimal(0.75).pow(k))
    assert(coefs.sum == 65536 - BigInt(3).pow(8).toLong) // 58975
  }

  test("constant series converges to x·(1-(3/4)^8); impulse decays as (3/4)^k") {
    val w = Window.partitionBy("g").orderBy("t")
    def ewma(df: org.apache.spark.sql.DataFrame) = df.select(col("t"),
      coefs.zipWithIndex.map { case (c, k) =>
        lit(c) * coalesce(lag(col("n"), k).over(w), lit(0L))
      }.reduce(_ + _).as("units"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val const = ewma((1L to 12L).map(t => ("a", t, 40L)).toDF("g", "t", "n"))
    assert(const(12L) == 40L * 58975L) // fully warmed window
    val impulse = ewma(
      (1L to 10L).map(t => ("a", t, if (t == 2) 64L else 0L))
        .toDF("g", "t", "n"))
    for (k <- 0 to 7)
      assert(impulse(2L + k) == 64L * coefs(k)) // weight k, exactly
  }
}

class RangeJoinSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("binned range join equals the naive theta join") {
    val dir = sf("sf0.001")
    val t = graft.Tables(spark, dir)
    val iv = t.orders
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("s"),
        date_add(to_date(col("o_orderdate")), 7).as("e"))
    val pts = t.lineitem
      .filter(col("l_returnflag") === "R" && year(col("l_shipdate")) === 1995)
      .select(to_date(col("l_shipdate")).as("p"))
    val binned = TimeWindows
      .binnedRangeJoin(pts, iv, "p", "s", "e", binDays = 7)
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = iv.crossJoin(pts)
      .filter(col("p") >= col("s") && col("p") < col("e"))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(binned == naive)
    assert(binned.nonEmpty)
  }

  test("range join plan is an equi join on the bucket, never a BNLJ") {
    val p = graft.Registry.byName("j14_range_join_binned")
      .run(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.linesIterator.take(8).mkString("\n"))
    assert(p.contains("bucket"), "bucket must be a join key")
  }

  test("rolling z-score: spike flags, constant series scores zero, warm-up rows excluded") {
    import spark.implicits._
    // 10 events/day for 8 days, then a 100-event spike on day 9
    val rows = (1 to 9).flatMap { day =>
      val n = if (day == 9) 100 else 10
      (1 to n).map(i => (java.sql.Timestamp.valueOf(
        f"2024-02-$day%02d 0${i % 9}:00:00"), "probe"))
    }
    val tmp = java.nio.file.Files.createTempDirectory("zscore").toString
    rows.toDF("ts", "event_type")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = graft.Registry.byName("w12_rolling_zscore").run(spark, tmp)
      .collect().map(r => (r.getDate(1).toString,
        r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    // warm-up: first 7 days have no full trailing window
    assert(got.map(_._1).min == "2024-02-08")
    val day8 = got.find(_._1 == "2024-02-08").get
    assert(day8._3 == 0.0 && !day8._4, s"constant series: $day8")
    val day9 = got.find(_._1 == "2024-02-09").get
    // sigma floors at 1: z = (100*7 - 70) / 1 = 630
    assert(day9._2 == 100L && day9._3 == 630.0 && day9._4, s"spike: $day9")
  }
}

/** Gap-fill + LOCF: dense spine per key, gap flags, carried values. */
class GapfillSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("spine is dense per key, gaps carry the last observed value") {
    // customer A orders in Jan, Apr (gap Feb, Mar); B only in Mar
    val rows = Seq(
      (1L, "1994-01-10"), (1L, "1994-01-20"), (1L, "1994-04-05"),
      (2L, "1994-03-15"))
    val tmp = java.nio.file.Files.createTempDirectory("gapfill").toString
    rows.toDF("o_custkey", "d")
      .select(col("o_custkey"), col("d").cast("date").as("o_orderdate"))
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val got = graft.Registry.byName("w14_gapfill_locf").run(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString,
        r.getBoolean(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, "1994-01-01", false, 2L),
      (1L, "1994-02-01", true, 2L),  // gap, carries Jan's 2
      (1L, "1994-03-01", true, 2L),
      (1L, "1994-04-01", false, 1L),
      (2L, "1994-03-01", false, 1L), // single-month key: spine = 1 row
    ))
  }

  test("sf0.001: no gap escapes (every key's spine is contiguous monthly)") {
    val got = graft.Registry.byName("w14_gapfill_locf")
      .run(spark, sf("sf0.001"))
    val bad = got.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_rows"),
        (months_between(max(col("mo")), min(col("mo"))) + 1).as("span"))
      .filter(col("n_rows") =!= col("span").cast("long"))
    assert(bad.count() == 0)
    // non-gap rows must carry their own observed count
    assert(got.filter(!col("is_gap") && col("n_filled").isNull).count() == 0)
  }
}
