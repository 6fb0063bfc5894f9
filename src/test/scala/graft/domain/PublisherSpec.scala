package graft.domain

import java.io.File
import java.nio.file.{Files, Paths}

/** The one-job publisher writes exactly what Spark's JSON and CSV writers
  * wrote for the same `coalesce(1)` frame, through the Hadoop FileSystem
  * (so a URI root is honoured), and replaces writer-made directories
  * whole.
  */
class PublisherSpec extends graft.SparkSpec {
  import spark.implicits._

  // nulls, a date, doubles that need 2-dp rounding, a string with a comma
  // and a quote
  private lazy val frame = Seq(
    (1L, Some("plain"), Some(java.sql.Date.valueOf("2021-02-08")),
      Some(1.23456), Some(2.0)),
    (2L, Some("a, \"quoted\" label"), None, Some(-3.14159), None),
    (3L, None, Some(java.sql.Date.valueOf("2021-02-15")), None, Some(1e-3)),
  ).toDF("id", "label", "week_date", "ratio", "idx")

  private val artifacts = Seq("t.json" -> "json", "t.csv" -> "csv")

  private def parts(dir: String): Seq[File] =
    Option(new File(dir).listFiles).toSeq.flatten
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  private def text(dir: String): String =
    parts(dir).map(f => Files.readString(f.toPath)).mkString

  /** What the Spark writers produce (the publisher's former path). */
  private def sparkWrite(df: org.apache.spark.sql.DataFrame,
      dir: String): Unit = {
    val out = Publisher.rounded(df)
    out.write.mode("overwrite").json(s"$dir/t.json")
    out.write.mode("overwrite").option("header", "true").csv(s"$dir/t.csv")
  }

  test("artifacts are byte-identical to the Spark writers' output") {
    for ((name, df) <- Seq("rows" -> frame, "empty" -> frame.limit(0))) {
      val root = Files.createTempDirectory("pub").toString
      sparkWrite(df.coalesce(1), s"$root/spark")
      Publisher.saveData(df, s"file://$root/out", "t", "1.0", "about")
      for (v <- Seq("latest", "1.0"); (a, ext) <- artifacts) {
        val dir = s"$root/out/$v/$a"
        assert(parts(dir).map(_.getName) == Seq(s"part-00000.$ext"))
        assert(text(dir) == text(s"$root/spark/$a"), s"$name $v/$a")
        assert(new File(s"$dir/_SUCCESS").exists())
      }
      assert(Files.readString(Paths.get(s"$root/out/1.0/t_data_dict.txt")) ==
        Publisher.dataDict(df, "t", "about"))
      // no temp directory left behind, no `.crc` beside the dictionary
      for (v <- Seq("latest", "1.0"))
        assert(new File(s"$root/out/$v").list.sorted.toSeq ==
          Seq("t.csv", "t.json", "t_data_dict.txt"), v)
    }
  }

  test("an empty frame publishes a header-only CSV") {
    val root = Files.createTempDirectory("pub").toString
    Publisher.saveData(frame.limit(0), root, "t", "1.0")
    assert(text(s"$root/latest/t.csv") == "id,label,week_date,ratio,idx\n")
    assert(text(s"$root/latest/t.json") == "")
  }

  test("overwriting a Spark-written directory leaves one part file each") {
    val root = Files.createTempDirectory("pub").toString
    for (v <- Seq("latest", "1.0")) sparkWrite(frame.repartition(3), s"$root/$v")
    assert(parts(s"$root/latest/t.json").size > 1)
    Publisher.saveData(frame, root, "t", "1.0")
    for (v <- Seq("latest", "1.0"); (a, _) <- artifacts)
      assert(parts(s"$root/$v/$a").size == 1, s"$v/$a")
  }
}
