package graft.domain

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import java.io.{IOException, StringWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID

/** S8 — the versioned JSON+CSV+datadict publisher
  * (flows/aggregate/common.py:330-394): each indicator table is written
  * as `{title}.json`, `{title}.csv` and `{title}_data_dict.txt` under
  * both `latest/` and `{version}/`.
  *
  * Indicator outputs are small by construction (hundreds of rows), so,
  * like the reference's `json_dumps` from the driver, each table is
  * rendered by ONE Spark job — `coalesce(1)`, then `to_json` and
  * `to_csv` per row, collected — and the driver writes the files through
  * the Hadoop `FileSystem` API (local, HDFS, S3A alike). The bytes equal
  * what Spark's JSON and CSV writers produce for the same `coalesce(1)`
  * frame, at one job per table instead of one per artifact and version.
  * Each directory holds one `part-00000.*` file plus `_SUCCESS`. Floats are
  * rounded to 2 dp in the published artifacts, mirroring
  * `json_dumps(decimal_places=2)`.
  */
object Publisher {

  /** 2-dp output rounding (F13) applied to every double column, mirroring
    * the reference's `json_dumps(decimal_places=2)`; public so the
    * rounding contract is oracle-checkable (`dom_publish_rounded`).
    */
  def rounded(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map {
      case StructField(n, DoubleType, _, _) => round(col(n), 2).as(n)
      case f => col(f.name)
    }.toIndexedSeq: _*)

  def dataDict(df: DataFrame, title: String, description: String): String = {
    val header = Seq(title, "-" * title.length, "", description, "",
      "Fields:", "-------", "")
    val fields = df.schema.fields.map(f =>
      s"""- ${f.name} (${f.dataType.simpleString}): "${f.name} of this indicator"\n""")
    (header ++ fields).mkString("\n")
  }

  /** The header line Spark's CSV writer emits for `schema` (same
    * generator, so quoting and the line separator match).
    */
  private def csvHeader(schema: StructType, timeZone: String): String = {
    val w = new StringWriter
    val gen = new UnivocityGenerator(schema, w,
      new CSVOptions(Map("header" -> "true"), true, timeZone))
    gen.writeHeaders()
    gen.close()
    w.toString
  }

  private def write(fs: FileSystem, path: Path, text: String): Unit = {
    val os = fs.create(path, true)
    try os.write(text.getBytes(StandardCharsets.UTF_8)) finally os.close()
  }

  /** A writer-shaped output directory — one part file, then the
    * `_SUCCESS` marker — built under a hidden sibling and renamed over
    * `dir`, which it replaces whole (as `SaveMode.Overwrite` does, so no
    * stale `part-*` survives). A failed write leaves the old `dir` intact.
    */
  private def writeDir(fs: FileSystem, dir: Path, part: String,
      text: String): Unit = {
    val tmp = new Path(dir.getParent,
      s".tmp-${dir.getName}-${UUID.randomUUID().toString.take(8)}")
    write(fs, new Path(tmp, part), text)
    write(fs, new Path(tmp, "_SUCCESS"), "")
    fs.delete(dir, true)
    if (!fs.rename(tmp, dir))
      throw new IOException(s"cannot rename $tmp to $dir")
  }

  def saveData(df: DataFrame, outRoot: String, title: String,
      version: String, description: String = ""): Unit = {
    val out = rounded(df)
    val rows = out.coalesce(1)
      .select(to_json(struct(col("*"))), to_csv(struct(col("*"))))
      .collect()
    val json = rows.map(_.getString(0) + "\n").mkString
    val csv = csvHeader(out.schema,
        df.sparkSession.conf.get("spark.sql.session.timeZone")) +
      rows.map(_.getString(1) + "\n").mkString
    val dict = dataDict(df, title, description)
    val fs = new Path(outRoot)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    // the dictionary is a plain file beside the directories: no `.crc`
    // sidecar on a checksummed (local) filesystem
    val plainFs = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    for (v <- Seq("latest", version)) {
      val dir = s"$outRoot/$v"
      writeDir(fs, new Path(s"$dir/$title.json"), "part-00000.json", json)
      writeDir(fs, new Path(s"$dir/$title.csv"), "part-00000.csv", csv)
      write(plainFs, new Path(s"$dir/${title}_data_dict.txt"), dict)
    }
  }
}
