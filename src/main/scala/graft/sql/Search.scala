package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's search-entry semantics as library functions (daisy:
  * `POST /dae/v1/search` — `SearchHandler.cpp:73-110` wraps the payload
  * as `SELECT * FROM (<query>) [LIMIT off, n]` and injects
  * `_time >= start AND _time < end`; pipe-syntax queries
  * `table | WHERE … | SELECT …` via `src/Parsers/parseQueryPipe.cpp`).
  *
  * No HTTP dependencies exist in this build, so the REST layer's
  * query-shaping is exposed as composable functions; an HTTP front-end is
  * a thin adapter over these.
  */
object Search {

  /** Time-bounded search: wrap arbitrary SQL, inject the `_time` range
    * (the AddTimeParamVisitor behavior), apply offset/limit. The injected
    * filter lands OUTSIDE the subquery but Catalyst pushes it through
    * projections/filters down to the scan — same effect as the
    * reference's AST injection into the innermost SELECT. Over a REST
    * catalog table the bounds also select its time buckets
    * (`TimeTable.PruneBuckets`), so only those directories are listed. */
  def timeBounded(spark: SparkSession, innerSql: String,
                  startIso: String, endIso: String,
                  limit: Int = 100, offset: Int = 0,
                  timeCol: String = "_time"): DataFrame = {
    val inner = spark.sql(innerSql)
    val bounded = inner
      .filter(col(timeCol) >= lit(startIso).cast("timestamp") &&
              col(timeCol) < lit(endIso).cast("timestamp"))
    val page = if (offset > 0) bounded.offset(offset) else bounded
    if (limit > 0) page.limit(limit) else page
  }

  /** Daisy pipe-syntax: `table | where … | select … | order by … | limit n`.
    * Translated segment-by-segment onto the DataFrame API (the reference
    * rewrites pipe stages into nested SELECTs — parseQueryPipe.cpp:152-166;
    * the DataFrame chain is the same nesting, and Catalyst flattens it).
    * Supported stages: where, select, group by <keys> agg <exprs>,
    * order by, limit. */
  def pipe(spark: SparkSession, query: String): DataFrame = {
    val segments = query.split("\\|").map(_.trim).filter(_.nonEmpty)
    require(segments.nonEmpty, "empty pipe query")
    var df = spark.table(segments.head)
    segments.tail.foreach { seg =>
      val lower = seg.toLowerCase
      if (lower.startsWith("where ")) {
        df = df.filter(seg.substring(6))
      } else if (lower.startsWith("select ")) {
        df = df.selectExpr(splitTop(seg.substring(7)): _*)
      } else if (lower.startsWith("group by ")) {
        val body = seg.substring(9)
        val i = body.toLowerCase.indexOf(" agg ")
        require(i > 0, s"group by stage needs ' agg ': $seg")
        val keys = splitTop(body.substring(0, i)).map(expr)
        val aggs = splitTop(body.substring(i + 5)).map(expr)
        df = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      } else if (lower.startsWith("order by ")) {
        // parse trailing asc/desc ourselves — expr("n desc") would parse
        // as column `n` ALIASED `desc` and silently sort ascending.
        val sorts = splitTop(seg.substring(9)).map { e =>
          val t = e.trim
          if (t.toLowerCase.endsWith(" desc")) expr(t.dropRight(5)).desc
          else if (t.toLowerCase.endsWith(" asc")) expr(t.dropRight(4)).asc
          else expr(t).asc
        }
        df = df.orderBy(sorts: _*)
      } else if (lower.startsWith("limit ")) {
        df = df.limit(seg.substring(6).trim.toInt)
      } else {
        throw new IllegalArgumentException(s"unsupported pipe stage: $seg")
      }
    }
    df
  }

  /** EXPLAIN/analyzer endpoint analogue (daisy
    * `SQLAnalyzerRestRouterHandler.cpp:207`): returns the analyzed +
    * physical plan for a SQL string without executing it. */
  def analyze(spark: SparkSession, sql: String): String = withoutPrePass(spark) {
    val qe = spark.sql(sql).queryExecution
    s"== Optimized ==\n${qe.optimizedPlan}\n== Physical ==\n${qe.executedPlan}"
  }

  /** Explain-only paths must not do executor I/O: LazyTopK's bounded
    * pre-pass is a real (narrow) scan at optimization time, so it is
    * disabled while a plan is rendered for inspection. Thread-local
    * (Catalyst plans lazily on the accessing thread), so interleaved
    * explain calls cannot strand the session conf and concurrent query
    * planning on other threads keeps the rewrite. */
  private def withoutPrePass[T](spark: SparkSession)(body: => T): T =
    graft.plans.LazyTopK.withoutPrePass(body)

  /** EXPLAIN levels, mapping the reference's modes (EXPLAIN AST / SYNTAX
    * / PLAN / PIPELINE, `src/Interpreters/InterpreterExplainQuery.cpp`)
    * onto the Catalyst stages: ast→parsed, syntax→analyzed,
    * plan→optimized, pipeline→physical (the executed plan IS the
    * pipeline here), codegen→generated code. Default = [[analyze]]'s
    * optimized+physical pair. */
  def explain(spark: SparkSession, sql: String, mode: String): String = withoutPrePass(spark) {
    val qe = spark.sql(sql).queryExecution
    mode.toLowerCase match {
      case "ast" | "parsed" => qe.logical.toString
      case "syntax" | "analyzed" => qe.analyzed.toString
      case "plan" | "optimized" => qe.optimizedPlan.toString
      case "pipeline" | "physical" => qe.executedPlan.toString
      case "codegen" =>
        org.apache.spark.sql.execution.debug.codegenString(qe.executedPlan)
      case "" | "default" => analyze(spark, sql)
      case other => sys.error(
        s"unknown explain mode: $other (ast, syntax, plan, pipeline, codegen)")
    }
  }

  /** Split on top-level commas (not inside parens). */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur.append(c)
    }
    if (cur.nonEmpty) out += cur.toString.trim
    out.toSeq
  }
}
