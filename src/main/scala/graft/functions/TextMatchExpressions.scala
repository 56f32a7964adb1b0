package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, col, lit, lower}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the reference's text-match cascade
  * (src/endpoints/search.get.ts:113-188) over a games row's lowered name,
  * description and gameplay description, the normalized query and its
  * words. It yields `struct<matchType: string, base: double>`, or null
  * when nothing matches; the caller multiplies `base` by the popularity
  * factor, so the score keeps Spark's f64 order `(base) * pop`.
  *
  * Both the interpreted and the generated path call
  * [[TextMatch.score]], the one copy of the formula; the API's serving
  * snapshot calls it too. The generated code is a single static call, so
  * a plan using it stays whole-stage codegen'd.
  */
case class TextMatch(name: Expression, description: Expression, gameplay: Expression,
    query: Expression, words: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(name, description, gameplay, query, words)

  override def nullable: Boolean = true

  override def dataType: DataType = TextMatch.Result

  override def eval(input: InternalRow): Any = {
    def text(e: Expression) = e.eval(input).asInstanceOf[UTF8String]
    TextMatch.row(TextMatch.score(text(name), text(description), text(gameplay),
      text(query), words.eval(input).asInstanceOf[ArrayData]))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val values = args.map(a => s"${a.isNull} ? null : ${a.value}")
    ev.copy(code = code"""
      |${Block.blocksToBlock(args.map(_.code))}
      |InternalRow ${ev.value} = graft.functions.TextMatch.row(
      |  graft.functions.TextMatch.score(${values.mkString(", ")}));
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TextMatch = {
    val Seq(n, d, g, q, w) = newChildren
    copy(name = n, description = d, gameplay = g, query = q, words = w)
  }
}

object TextMatch {
  import org.apache.spark.sql.graftshim.ColumnBridge

  /** A row's match type and its score before the popularity factor. */
  final case class Hit(matchType: UTF8String, base: Double)

  val Result: StructType = StructType(Seq(
    StructField("matchType", StringType, nullable = false),
    StructField("base", DoubleType, nullable = false)))

  /** The match types, in cascade order. */
  val MatchTypes: Seq[String] = Seq("title", "description", "gameplayDescription")

  private val Title = UTF8String.fromString(MatchTypes(0))
  private val Description = UTF8String.fromString(MatchTypes(1))
  private val Gameplay = UTF8String.fromString(MatchTypes(2))

  /** The kernel. First match wins: title, then description, then gameplay
    * description, each when the whole query is a substring of the field
    * (a blank field never matches a non-empty query). The title band is
    * 100 (+50 exact, +25 prefix); description 50 + 20·frac; gameplay
    * 25 + 15·frac, where frac is the share of query words found as a
    * substring of the field (search.get.ts:138-152). A word without
    * whitespace lies inside one token exactly when it lies inside the
    * text, so the reference's per-token test is a plain `contains`. Null
    * when nothing matches; a null field never matches. */
  def score(name: UTF8String, description: UTF8String, gameplay: UTF8String,
      query: UTF8String, words: ArrayData): Hit =
    if (query == null) null
    else if (name != null && name.contains(query))
      Hit(Title, 100.0 +
        (if (name == query) 50.0 else if (name.startsWith(query)) 25.0 else 0.0))
    else if (description != null && description.contains(query))
      Hit(Description, 50.0 + frac(description, words) * 20.0)
    else if (gameplay != null && gameplay.contains(query))
      Hit(Gameplay, 25.0 + frac(gameplay, words) * 15.0)
    else null

  /** Query words found in `text`, summed left to right as doubles, over
    * the word count. */
  private def frac(text: UTF8String, words: ArrayData): Double = {
    val n = words.numElements()
    var found = 0.0
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i) && text.contains(words.getUTF8String(i))) found += 1.0
      i += 1
    }
    found / n
  }

  /** The expression's value for a hit. */
  def row(hit: Hit): InternalRow =
    if (hit == null) null else InternalRow(hit.matchType, hit.base)

  /** The query as both callers score it: lowered, then trimmed. */
  def normalizeQuery(q: String): String = q.toLowerCase.trim

  /** A normalized query's words: its runs of non-whitespace, as Spark's
    * `split(query, "\\s+")` gives them for a trimmed query. */
  def queryWords(normalizedQuery: String): Seq[String] = normalizedQuery.split("\\s+").toSeq

  /** A games row's text as the kernel reads it, lowered by Spark itself
    * (its `lower` is context-sensitive outside ASCII): name, description
    * and gameplay description, a null description of either kind reading
    * as ''. */
  def loweredText: Seq[Column] = Seq(lower(col("name")),
    lower(coalesce(col("description"), lit(""))),
    lower(coalesce(col("gameplayDescription"), lit(""))))

  /** Column API: a games row's match against `query` and its `words`. */
  def column(query: Column, words: Column): Column = {
    val e = ColumnBridge.expression _
    val Seq(n, d, g) = loweredText.map(e)
    ColumnBridge.column(TextMatch(n, d, g, e(query), e(words)))
  }
}
