package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the native vector
  * expressions as SQL functions, so the SQL text interface reaches them
  * the same way the Column API does:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // …or spark.sql.extensions=graft.functions.GraftExtensions
  * spark.sql("SELECT vec_cosine(a.embedding, b.embedding) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(
      classOf[VectorExpressions.type].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // The native as-of join: logical node planned by a custom strategy,
    // with a pushdown rule Catalyst's own PushDownPredicates can't supply
    // for a node it doesn't know.
    ext.injectPlannerStrategy(session => new graft.plans.AsOfJoinStrategy(session))
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
    // array/map membership file pruning: Spark's V2 filter translation
    // has no array_contains rendering, so membership conjuncts reach
    // the graft scan as an OPTION the rule attaches to the relation
    // (file skipping against commit-time element blooms only — the
    // Filter stays in the plan)
    ext.injectOptimizerRule(_ => graft.plans.PushMembershipProbes)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two float vectors in double precision"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"vec_dot expects 2 arguments, got ${args.length}")
        VectorExpressions.FloatVectorDot(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float vectors"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"vec_cosine expects 2 arguments, got ${args.length}")
        VectorExpressions.FloatVectorCosine(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("array_jaccard"),
      info("array_jaccard",
        "array_jaccard(a, b) - Jaccard similarity of two string arrays (distinct semantics)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"array_jaccard expects 2 arguments, got ${args.length}")
        TextExpressions.ArrayJaccardExpr(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingles"),
      info("shingles",
        "shingles(text, width, step) - character shingle array (width/step must be int literals)"),
      (args: Seq[Expression]) => {
        require(args.length == 3, s"shingles expects 3 arguments, got ${args.length}")
        TextExpressions.ShinglesExpr(args(0), litInt(args(1), "width"), litInt(args(2), "step"))
      }))
    ext.injectFunction((
      FunctionIdentifier("alnum_tokens"),
      info("alnum_tokens",
        "alnum_tokens(text, minLen) - lowercase alphanumeric tokens (minLen must be an int literal)"),
      (args: Seq[Expression]) => {
        require(args.length == 2, s"alnum_tokens expects 2 arguments, got ${args.length}")
        TextExpressions.TokensExpr(args(0), litInt(args(1), "minLen"))
      }))
    // The CDF TABLE function (Delta's table_changes shape):
    //   SELECT * FROM table_changes('<path or cat.ns.t>', v1, v2)
    // resolves at analysis time to the versioned table's change frame —
    // a fully distributed plan over the change commits' files, never a
    // driver-materialized result. Catalog-relative names resolve through
    // the session's own spark.sql.catalog.<cat>.root.
    // VERSION RANGE CONTRACT: both bounds INCLUSIVE ([from, to]), exactly
    // Delta Lake's table_changes — this function deliberately borrows
    // Delta's name and argument shape, so it must not silently drop the
    // startVersion commit a ported Delta query expects. The programmatic
    // cursor APIs (appendsBetween/deletesBetween/tableChanges) keep their
    // own documented exclusive-start (from, to] contract; the TVF maps
    // from_version to fromVersion-1 internally.
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      info("table_changes",
        "table_changes(table, from_version, to_version) - rows added/deleted in " +
          "[from_version, to_version], both bounds INCLUSIVE (Delta parity), " +
          "with _change_type and _commit_version"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"table_changes expects (table, from_version, to_version), got ${args.length} args")
        val spec = litString(args(0), "table")
        val path =
          if (spec.contains('/')) spec
          else {
            val parts = spec.split('.')
            require(parts.length >= 2,
              s"qualify the table as <catalog>.<ns...>.<table> or pass its path: $spec")
            val root = org.apache.spark.sql.SparkSession.active.conf
              .get(s"spark.sql.catalog.${parts.head}.root")
            java.nio.file.Paths.get(root, parts.tail.toIndexedSeq: _*).toString
          }
        graft.sources.VersionedTable.tableChanges(
          org.apache.spark.sql.SparkSession.active, path,
          litLong(args(1), "from_version") - 1L, litLong(args(2), "to_version"))
          .queryExecution.logical
      }))
  }

  private def litString(e: Expression, name: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      v.toString
    case other =>
      throw new IllegalArgumentException(s"$name must be a string literal, got: $other")
  }

  private def litLong(e: Expression, name: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)  => v.toLong
    case other =>
      throw new IllegalArgumentException(s"$name must be an integer literal, got: $other")
  }

  /** SQL-side structural parameters arrive as literal expressions; these
    * kernels specialize their generated code on them, so they must be
    * compile-time constants, not data.
    */
  private def litInt(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(s"$name must be an integer literal, got: $other")
  }
}
