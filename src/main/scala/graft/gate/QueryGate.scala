package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.ParseException

/** Typed error taxonomy mirroring the reference's three HTTP errors
  * (reference `api/utils/error_handler.go:18-39`):
  * 401 unauthorized operation, 400 incomplete params, 400 incorrect driver.
  */
sealed abstract class EngineError(val code: Int, msg: String)
    extends RuntimeException(msg)
object EngineError {
  /** Non-SELECT statement admitted to the gate (reference 401). */
  final case class UnauthorizedOperation(query: String)
      extends EngineError(401, s"unauthorized operation (SELECT-only): $query")
  /** Missing dbDriver / dbName / query (reference 400). */
  final case class IncompleteParams(which: String)
      extends EngineError(400, s"incomplete request params: $which")
  /** dbDriver outside the allowlist (reference 400). */
  final case class IncorrectSource(driver: String)
      extends EngineError(400, s"incorrect db driver: $driver")
  /** Unparseable SQL (the reference surfaces the parser error as-is). */
  final case class InvalidSyntax(detail: String)
      extends EngineError(400, s"syntax error: $detail")
}

/** Request gate — parity with the reference's validation chain
  * (`api/controllers/query_controller.go:16-51`):
  *
  *   - O4 param null-check (`paramsNullHandler`, query_controller.go:38-43)
  *   - O5 driver allowlist (`dbDriverValidator`, query_controller.go:46-51)
  *   - O2 syntax validation (`queryValidator`, query_controller.go:26-35) —
  *     there via a Vitess-derived parser, here via Catalyst's own parser.
  *   - O3 operation allowlist (`operationValidator`,
  *     query_controller.go:16-23). The reference's regex `^select|SELECT`
  *     is buggy (alternation binds looser than `^`, so any query merely
  *     CONTAINING "SELECT" passes, and `Select ...` is rejected). We
  *     reproduce the INTENT — SELECT-only — not the bug, by inspecting the
  *     parsed logical plan: only pure queries are admitted, every
  *     Command/DML/DDL node is rejected. This is strictly stronger than
  *     any regex: it cannot be fooled by comments, strings, or casing.
  */
object QueryGate {

  /** Sources this engine can open. The reference's literal allowlist is
    * {mysql, postgres} (`query_controller.go:46-51`); both are accepted
    * here as aliases of the jdbc path ([[graft.sources.Sources.table]]),
    * so the error taxonomy is string-for-string comparable, alongside
    * our native formats.
    */
  val allowedDrivers: Set[String] = Set("parquet", "jdbc", "mysql", "postgres")

  /** Full validation chain; returns the query on success. */
  def validate(spark: SparkSession, dbDriver: String, dbName: String,
               query: String): String = {
    val missing = Seq(
      "dbDriver" -> dbDriver, "dbName" -> dbName, "query" -> query)
      .collect { case (k, v) if v == null || v.trim.isEmpty => k }
    if (missing.nonEmpty)
      throw EngineError.IncompleteParams(missing.mkString(","))
    if (!allowedDrivers.contains(dbDriver))
      throw EngineError.IncorrectSource(dbDriver)
    validateQueryOnly(spark, query)
    query
  }

  /** O2+O3: parse with Catalyst, reject anything that is not a pure query.
    * Catalyst represents every DDL/DML statement as a distinct plan class;
    * a read-only SELECT (incl. CTEs, set ops, subqueries) parses to a plain
    * query plan whose tree contains no Command / ParsedStatement node.
    */
  def validateQueryOnly(spark: SparkSession, query: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.Command
    val plan =
      try spark.sessionState.sqlParser.parsePlan(query)
      catch {
        case e: ParseException =>
          throw EngineError.InvalidSyntax(e.getMessage.linesIterator
            .take(2).mkString(" "))
      }
    val isCommand = plan.isInstanceOf[Command] ||
      plan.exists(_.isInstanceOf[Command]) ||
      // INSERT/CTAS parse to non-Command nodes in some Spark versions;
      // match on class-name families to stay version-robust.
      plan.exists(p => {
        val n = p.getClass.getSimpleName
        n.startsWith("Insert") || n.startsWith("Create") ||
        n.startsWith("Drop") || n.startsWith("Alter") ||
        n.startsWith("Delete") || n.startsWith("Update") ||
        n.startsWith("Merge") || n.startsWith("Truncate")
      })
    if (isCommand) throw EngineError.UnauthorizedOperation(query)
  }

  /** O6+O7: gate then execute. The reference forwards the string to an
    * external DB (`query_controller.go:98`); here Catalyst parses,
    * analyzes, optimizes and executes it in-process.
    */
  def runQuery(spark: SparkSession, dbDriver: String, dbName: String,
               query: String): DataFrame = {
    validate(spark, dbDriver, dbName, query)
    spark.sql(query)
  }

  /** Escape `s` as a JSON string body: quote, backslash and every
    * control char below 0x20. Shared by every JSON line the gate and the
    * HTTP API emit (a 401 envelope echoes the client's query). */
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** O15/O16 parity: the reference wraps every route in a logging
    * middleware that emits one structured line per request — status,
    * latency, and the request descriptor (`api/middlewares/
    * middlewares.go:40-59`). The in-process twin wraps the gate+plan
    * step: one JSON line per admitted or rejected query, with the
    * EngineError's HTTP-taxonomy code on rejection (200 on success,
    * matching the reference's envelope). `log` defaults to stderr and
    * is injectable for tests and for routing into a real logger.
    */
  def runLogged(spark: SparkSession, dbDriver: String, dbName: String,
                query: String,
                log: String => Unit = Console.err.println): DataFrame = {
    val t0 = System.nanoTime()
    def line(status: Int, err: Option[String]) = {
      val ms = (System.nanoTime() - t0) / 1e6
      val errField = err.fold("")(e => s""","error":"${jsonEscape(e)}"""")
      s"""{"op":"query","driver":"${jsonEscape(String.valueOf(dbDriver))}","db":"${jsonEscape(String.valueOf(dbName))}","status":$status,"latency_ms":$ms,"query":"${jsonEscape(String.valueOf(query).take(200))}"$errField}"""
    }
    try {
      val df = runQuery(spark, dbDriver, dbName, query)
      log(line(200, None))
      df
    } catch {
      case e: EngineError =>
        log(line(e.code, Some(e.getMessage)))
        throw e
    }
  }
}
