package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** FTS5 `highlight(t, col, open, close)` on the RAW text
  * ([[graft.functions.Unicode61.highlightRawPhrasesConstrained]]):
  * original bytes preserved, matched PHRASE-HIT spans wrapped (whole
  * multi-token hits, separators included; overlapping hits coalesced)
  * — unlike [[graft.operators.Fts.highlight]]'s token-stream rendering.
  *
  * `children(0)` is the text; `children(i + 1)` is phrase i's GATE — a
  * boolean that is FALSE on rows where FTS5 would not report that
  * phrase's instances (an OR operand whose branch didn't match, a
  * NOT'd operand; see [[graft.operators.Fts.PhraseEntry]]). The phrase
  * shapes themselves are plan-time constants (FTS5's MATCH argument
  * must be a literal too), carried as flat reference arrays into
  * codegen: `terms(p)(k)` / `prefix(p)(k)` = folded term k of phrase p
  * and its prefix-star flag.
  *
  * Instance constraints (r18b, per phrase, plan-time constants too):
  * `anchored(p)` keeps only the position-0 instance (`^abc`);
  * `groupId(p) >= 0` puts phrase p in a NEAR group narrowed to
  * valid-clump participants with window `groupN(p)` — the FTS5
  * poslist trim ([[graft.functions.Unicode61]] scaladoc has the rule).
  */
case class HighlightRaw(children: Seq[Expression],
    phrases: Seq[Seq[(String, Boolean)]],
    anchored: Seq[Boolean], groupId: Seq[Int], groupN: Seq[Int],
    open: String, close: String) extends Expression {
  require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
    "highlight needs at least one non-empty phrase")
  require(children.length == phrases.length + 1,
    "one gate child per phrase, after the text child")
  require(anchored.length == phrases.length &&
    groupId.length == phrases.length && groupN.length == phrases.length,
    "one (anchored, groupId, groupN) triple per phrase")

  override def dataType: DataType = StringType
  override def nullable: Boolean = children.head.nullable
  override def foldable: Boolean = children.forall(_.foldable)

  @transient private lazy val termArr: Array[Array[String]] =
    phrases.map(_.map(_._1).toArray).toArray
  @transient private lazy val prefixArr: Array[Array[Boolean]] =
    phrases.map(_.map(_._2).toArray).toArray
  @transient private lazy val anchoredArr: Array[Boolean] = anchored.toArray
  @transient private lazy val gidArr: Array[Int] = groupId.toArray
  @transient private lazy val gnArr: Array[Int] = groupN.toArray

  override def eval(input: InternalRow): Any = {
    val t = children.head.eval(input)
    if (t == null) null
    else {
      val active = new Array[Boolean](phrases.length)
      var i = 0
      while (i < active.length) {
        val g = children(i + 1).eval(input)
        active(i) = g != null && g.asInstanceOf[Boolean]
        i += 1
      }
      UTF8String.fromString(
        graft.functions.Unicode61.highlightRawPhrasesConstrained(
          t.asInstanceOf[UTF8String].toString, termArr, prefixArr,
          anchoredArr, gidArr, gnArr, active, open, close))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val termsRef = ctx.addReferenceObj("terms", termArr, "java.lang.String[][]")
    val prefixRef = ctx.addReferenceObj("prefix", prefixArr, "boolean[][]")
    val anchoredRef = ctx.addReferenceObj("anchored", anchoredArr, "boolean[]")
    val gidRef = ctx.addReferenceObj("gid", gidArr, "int[]")
    val gnRef = ctx.addReferenceObj("gn", gnArr, "int[]")
    val openRef = ctx.addReferenceObj("open", open, "String")
    val closeRef = ctx.addReferenceObj("close", close, "String")
    val textGen = children.head.genCode(ctx)
    val gateGens = children.tail.map(_.genCode(ctx))
    val act = ctx.freshName("active")
    val gateCode = gateGens.zipWithIndex.map { case (g, i) =>
      s"""${g.code}
         |$act[$i] = !${g.isNull} && ${g.value};""".stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      ${textGen.code}
      boolean ${ev.isNull} = ${textGen.isNull};
      org.apache.spark.unsafe.types.UTF8String ${ev.value} = null;
      if (!${ev.isNull}) {
        boolean[] $act = new boolean[${phrases.length}];
        $gateCode
        ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
          graft.functions.Unicode61.highlightRawPhrasesConstrained(
            ${textGen.value}.toString(), $termsRef, $prefixRef,
            $anchoredRef, $gidRef, $gnRef, $act,
            $openRef, $closeRef));
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HighlightRaw =
    copy(children = newChildren)
}

object HighlightRaw {
  /** One phrase of the gated+constrained surface: folded terms with
    * prefix flags, the highlight gate, the `^`-anchor flag, and NEAR
    * membership as (groupId >= 0, window N) — (-1, 0) when free.
    */
  final case class Phrase(terms: Seq[(String, Boolean)], gate: Column,
      anchored: Boolean = false, groupId: Int = -1, groupN: Int = 0)

  /** Gated phrase surface (r18): one [[Phrase]] descriptor per query
    * phrase, instance constraints included.
    */
  def highlight_raw(c: Column, phrases: Seq[Phrase],
      open: String = "<b>", close: String = "</b>"): Column =
    GraftShim.column(HighlightRaw(
      GraftShim.expression(c) +: phrases.map(p => GraftShim.expression(p.gate)),
      phrases.map(_.terms), phrases.map(_.anchored),
      phrases.map(_.groupId), phrases.map(_.groupN), open, close))
}
