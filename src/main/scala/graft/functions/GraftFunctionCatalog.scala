package graft.functions

import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Identifier}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, UnboundFunction}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 FunctionCatalog — the last catalog extension surface
  * beside the injected expressions and rule (GraftExtensions)
  * and the DSv2 table connector (RecSource): SQL-addressable functions
  * resolved THROUGH A CATALOG (`graft_fns.default.<fn>(…)`), the way a
  * lakehouse exposes engine-version-pinned UDFs to every session
  * without classpath coupling. Registration is one runtime conf
  * (`spark.sql.catalog.graft_fns = <this class>`), so a fleet turns the
  * catalog on per-session.
  *
  * Functions implement the MAGIC-METHOD contract (`invoke` with exact
  * primitive signatures): Catalyst binds them via `StaticInvoke`-style
  * codegen, so a V2 function costs what a built-in costs — no row
  * boxing, unlike a registered Scala UDF. `produceResult` stays as the
  * documented interpreted fallback.
  */
class GraftFunctionCatalog extends CatalogPlugin with FunctionCatalog {

  private var catalogName: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name

  override def name(): String = catalogName

  private val ns = Array("default")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(ns))
      Array(Identifier.of(ns, "hamming64"))
    else Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name() match {
      case "hamming64" => GraftFunctionCatalog.Hamming64
      case other =>
        throw new NoSuchElementException(s"graft_fns has no function $other")
    }
}

object GraftFunctionCatalog {

  /** The registered proof row: resolve [[Hamming64]] THROUGH the
    * catalog from plain SQL and histogram the distances. The semantics
    * are deliberately trivial (popcount of xor — DuckDB replays it
    * natively); the row exists to gate the resolution path
    * conf → CatalogPlugin → UnboundFunction.bind → magic-method codegen.
    */
  private val q = graft.Q(
    "f21_fncatalog_hamming",
    (s, d) => {
      s.conf.set("spark.sql.catalog.graft_fns",
        classOf[GraftFunctionCatalog].getName)
      graft.Tables(s, d).lineitem
        .createOrReplaceTempView("lineitem_fncat")
      s.sql(
        """SELECT graft_fns.default.hamming64(l_orderkey, l_partkey)
          |    AS dist, count(*) AS n
          |FROM lineitem_fncat GROUP BY dist""".stripMargin)
    },
    Some(
      """SELECT CAST(bit_count(xor(l_orderkey, l_partkey)) AS BIGINT)
        |    AS dist, count(*) AS n
        |FROM lineitem GROUP BY dist""".stripMargin),
  )

  def queries: Seq[graft.Q] = Seq(q)

  /** Hamming distance between two 64-bit words — the SimHash-family
    * primitive, exposed catalog-side so ad-hoc SQL can join on
    * fingerprint distance without importing anything.
    */
  object Hamming64 extends UnboundFunction {
    override def name(): String = "hamming64"
    override def description(): String =
      "hamming64(a BIGINT, b BIGINT) -> BIGINT: popcount(a XOR b)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 2 &&
        inputType.forall(_.dataType == LongType),
        s"hamming64 expects (BIGINT, BIGINT), got ${inputType.sql}")
      // r08: the bound function lives in JAVA (HammingBound) so the
      // magic method is a true static — the former Scala object's
      // instance `invoke` made Janino reject the generated static call
      // and the stage silently ran INTERPRETED (boxed produceResult),
      // which was also the r06/r07 bench tails' anonymous stack trace.
      HammingBound.INSTANCE
    }
  }
}
