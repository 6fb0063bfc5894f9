package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Shared-cache + guardrail behaviour (ref dqa/shared_cache.py:46-131,
  * flows/aggregate/update_cache.py:36-102).
  */
class SharedCacheSpec extends SparkSpec {
  import spark.implicits._

  test("materialise computes once and reuses the parquet on re-run") {
    val root = Files.createTempDirectory("graft_cache").toString
    val evals = spark.sparkContext.longAccumulator("evals")
    val counting = udf { x: Long => evals.add(1L); x * 2 }
    val df = spark.range(100).select(col("id"), counting(col("id")).as("y"))

    val first = SharedCache.materialise(df, root, "stage")
    assert(first.count() == 100)
    val evalsAfterFirst = evals.value
    assert(evalsAfterFirst >= 100, "first call evaluated the plan")

    val second = SharedCache.materialise(df, root, "stage")
    assert(second.count() == 100)
    assert(evals.value == evalsAfterFirst, "second call did not recompute")
    assert(second.select(sum("y")).head().getLong(0) == 9900)
  }

  test("an entry rebuilt after clear is read from its new files") {
    val df = spark.range(50).select((col("id") * 3).as("x"))
    def entry = SharedCache.materialise(df, SharedCache.defaultRoot, "cleared")
    assert(entry.count() == 50)
    SharedCache.clear(spark)
    assert(entry.agg(sum("x")).head().getLong(0) == 3675)
  }

  test("a changed plan gets a new key and recomputes") {
    val a = spark.range(10).toDF("id")
    val b = spark.range(10).select((col("id") + 1).as("id"))
    assert(SharedCache.planKey(a) != SharedCache.planKey(b))
    val root = Files.createTempDirectory("graft_cache2").toString
    assert(SharedCache.materialise(b, root, "s").agg(sum("id"))
      .head().getLong(0) == 55)
  }

  test("same-shaped reads from different paths get different plan keys") {
    // regression: LogicalRelation's string form has no path, so two scale
    // factors of the same table once collided to one cache entry
    val p1 = Files.createTempDirectory("graft_pk1").toString
    val p2 = Files.createTempDirectory("graft_pk2").toString
    spark.range(10).toDF("id").write.mode("overwrite").parquet(p1)
    spark.range(20).toDF("id").write.mode("overwrite").parquet(p2)
    val a = spark.read.parquet(p1)
    val b = spark.read.parquet(p2)
    assert(SharedCache.planKey(a) != SharedCache.planKey(b))
    assert(SharedCache.planKey(a) == SharedCache.planKey(spark.read.parquet(p1)))
  }

  test("racing writers publish atomically: one complete entry, no temp debris") {
    val root = Files.createTempDirectory("graft_cache3").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build() = { builds.incrementAndGet(); spark.range(1000).toDF("id") }

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val racers = (1 to 2).map { _ =>
      Future(SharedCache.materialiseWith(spark, root, "raced", "k1")(build())
        .count())
    }
    val counts = racers.map(Await.result(_, 120.seconds))
    assert(counts == Seq(1000L, 1000L), "both racers read a complete entry")
    assert(builds.get() >= 1 && builds.get() <= 2)

    val dir = new java.io.File(root)
    val children = dir.listFiles().map(_.getName).toSeq
    assert(children.count(_.startsWith("raced-")) == 1,
      s"exactly one published entry, got $children")
    assert(!children.exists(_.startsWith(".tmp-")),
      s"loser cleaned up its temp dir, got $children")
    // nothing nested under the published entry but parquet parts
    val entry = new java.io.File(dir, children.find(_.startsWith("raced-")).get)
    assert(!entry.listFiles().exists(_.isDirectory),
      "no stray renamed-into-dest child")

    // a later call is a pure cache hit: the builder must not run again
    val before = builds.get()
    assert(SharedCache.materialiseWith(spark, root, "raced", "k1")(build())
      .count() == 1000)
    assert(builds.get() == before, "warm call did not rebuild")
  }

  test("an incomplete published entry (crashed publish) is repaired, not served") {
    val root = Files.createTempDirectory("graft_cache4").toString
    val key = "crashkey"
    val keyHash = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    // simulate a publish that died mid-copy: dir present, no _SUCCESS
    val partial = new java.io.File(root, s"crashed-$keyHash")
    assert(partial.mkdirs())
    Files.writeString(partial.toPath.resolve("part-00000.parquet"), "junk")
    val healed = SharedCache.materialiseWith(spark, root, "crashed", key) {
      spark.range(25).toDF("id")
    }
    assert(healed.count() == 25, "rebuilt over the poisoned entry")
    assert(new java.io.File(partial, "_SUCCESS").exists())
  }

  test("observed floor piggybacks on the caller's action — no extra job") {
    val df = spark.range(50).toDF("x")
    val (observed, check) = Guardrails.observedFloor(df, "stage_ok", 10)
    // before any action the metric is in its zero state — the check
    // fails conservatively rather than vouch for an unobserved stage
    val e0 = intercept[Guardrails.FloorViolation] { check() }
    assert(e0.actual == 0)
    assert(observed.count() == 50) // the pipeline's own action
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    check() // passes, and runs zero additional jobs
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore, "check() itself launched no job")

    val (obs2, check2) = Guardrails.observedFloor(df, "stage_low", 1000)
    obs2.count()
    val e = intercept[Guardrails.FloorViolation] { check2() }
    assert(e.floor == 1000 && e.actual == 50)
  }

  test("guardrail floors pass through or abort with the stage name") {
    val df = Seq(1, 2, 3).toDF("x")
    assert(Guardrails.assertFloor(df, "ok", 3).count() == 3)
    val e = intercept[Guardrails.FloorViolation] {
      Guardrails.assertFloor(df, "too_small", 10)
    }
    assert(e.getMessage.contains("too_small"))
    assert(e.floor == 10 && e.actual == 3)

    val e2 = intercept[IllegalStateException] {
      Guardrails.assertFloors(Seq(("a", df, 1L), ("b", df, 5L),
        ("c", df, 100L)))
    }
    assert(e2.getMessage.contains("b=3<5") && e2.getMessage.contains("c=3<100"))
  }
}
