package graft.tools

import java.nio.file.{Files, Paths}

/** Generates QUERIES.md — the registry index: one row per registered
  * query with its verification mode (DuckDB oracle / rows-only), bench
  * block membership, and whether PLANS.md / SCALING.md mention it (the
  * plan-audit and scale-stress cross-links). Pure metadata walk — no
  * SparkSession is started; `Q.run` thunks are never invoked.
  *
  * Run: `sbt "runMain graft.tools.QueriesIndex"` from the repo root;
  * rerun after registering queries so the index never drifts from
  * `Registry.all`.
  */
object QueriesIndex {

  private def readIfExists(p: String): String = {
    val path = Paths.get(p)
    if (Files.exists(path)) new String(Files.readAllBytes(path), "UTF-8")
    else ""
  }

  def main(args: Array[String]): Unit = {
    val plans = readIfExists("PLANS.md")
    val scaling = readIfExists("SCALING.md")
    val qs = graft.Registry.all

    def family(n: String): String = n.split("_")(0) match {
      case f if f.matches("[apjswofde]\\d+.*|a\\d+b") => f.take(1) match {
        case "a" => "aggregate"
        case "p" => "projection/filter/privacy"
        case "j" => "join"
        case "s" => "source/sink"
        case "w" => "window/timeseries"
        case "o" => "set op"
        case "f" => "function"
        case "d" => "dedup/graph"
        case "e" => "event analytics"
      }
      case "dom" => "domain composition"
      case "t" => "text/curation"
      case "d" => "dedup/graph"
      case "e" => "event analytics"
      case "sim" => "similarity/ANN"
      case "ann" => "similarity/ANN"
      case "m" => "multimodal"
      case "tpch" => "conformance (TPC-H)"
      case "ssb" => "conformance (SSB)"
      case other => other
    }

    val sb = new StringBuilder
    sb.append("# QUERIES.md — generated registry index\n\n")
    sb.append("Generated by `graft.tools.QueriesIndex` from `Registry.all`")
    sb.append(" — do not edit by hand; rerun the tool instead.\n\n")
    sb.append(s"**${qs.length} registered queries.** ")
    sb.append(s"${qs.count(_.oracle.isDefined)} carry a DuckDB oracle ")
    sb.append("(hash-compared by the driver); ")
    sb.append(s"${qs.count(_.oracle.isEmpty)} are dumped rows-only.\n\n")
    sb.append("Columns: *oracle* = verification mode; *plan* / *stress* ")
    sb.append("= the query (or the operator family it belongs to) ")
    sb.append("appears in PLANS.md / SCALING.md by name.\n\n")
    sb.append("| query | family | oracle | plan | stress |\n")
    sb.append("|---|---|---|---|---|\n")
    qs.sortBy(_.name).foreach { q =>
      val oracle = if (q.oracle.isDefined) "duckdb-sql" else "rows-only"
      // SCALING/PLANS often name an operator by its family alias
      // (qini_uplift for a102_qini_uplift) — match the suffix too,
      // guarded at >6 chars so short stems can't false-positive
      val alias = q.name.replaceFirst("^[a-z]+\\d+b?_", "")
      def mentioned(doc: String): Boolean =
        doc.contains(q.name) ||
          (alias.length > 6 && alias != q.name && doc.contains(alias))
      val plan = if (mentioned(plans)) "yes" else ""
      val stress = if (mentioned(scaling)) "yes" else ""
      sb.append(s"| `${q.name}` | ${family(q.name)} | $oracle | $plan | $stress |\n")
    }
    Files.write(Paths.get("QUERIES.md"),
      sb.toString.getBytes("UTF-8"))
    println(s"QUERIES.md written: ${qs.length} rows")
  }
}
