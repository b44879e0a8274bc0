package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern matching — the keyword-scan primitive a
  * training-data pipeline runs at corpus scale (PII term lists,
  * blocklists, benchmark-contamination probes, topic lexicons): ONE
  * pass over each document counts ALL occurrences of EVERY pattern
  * simultaneously (end-position semantics, overlaps included), where
  * the per-pattern `contains`/regex alternative costs one scan per
  * pattern and explodes with list size.
  *
  * The automaton (goto/fail/output over Unicode code points) is built
  * once per expression instance from the literal pattern list —
  * broadcast-small model state, the dictionary never shuffles; the
  * per-row scan is O(text + matches). The DuckDB oracle replays
  * counts positionally (substr(text, p, len) = pat over every start
  * position), so the automaton's transitions are value-verified
  * against the naive definition. */
case class MultiMatchCounts(child: Expression, patterns: Seq[String])
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
    "patterns must be non-empty strings")
  require(patterns.distinct.size == patterns.size, "duplicate patterns")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes = Seq(StringType)

  /** goto as per-node code-point maps, fail links, and per-node
    * matched-pattern index lists (output function, closed over fail). */
  @transient private lazy val automaton: (Array[Map[Int, Int]], Array[Int], Array[List[Int]]) = {
    val goto = scala.collection.mutable.ArrayBuffer(Map.empty[Int, Int])
    val out = scala.collection.mutable.ArrayBuffer(List.empty[Int])
    // trie
    for ((p, pi) <- patterns.zipWithIndex) {
      var node = 0
      val cps = p.codePoints().toArray
      for (c <- cps) {
        goto(node).get(c) match {
          case Some(next) => node = next
          case None =>
            goto += Map.empty
            out += Nil
            goto(node) = goto(node) + (c -> (goto.length - 1))
            node = goto.length - 1
        }
      }
      out(node) = pi :: out(node)
    }
    // BFS fail links; merge outputs so a node reports every suffix match
    val fail = new Array[Int](goto.length)
    val queue = scala.collection.mutable.Queue.empty[Int]
    goto(0).values.foreach { n => fail(n) = 0; queue += n }
    while (queue.nonEmpty) {
      val r = queue.dequeue()
      goto(r).foreach { case (c, s) =>
        queue += s
        var f = fail(r)
        while (f != 0 && !goto(f).contains(c)) f = fail(f)
        fail(s) = goto(f).getOrElse(c, 0)
        out(s) = out(s) ++ out(fail(s))
      }
    }
    (goto.toArray, fail, out.toArray)
  }

  override def nullSafeEval(input: Any): Any = {
    val (goto, fail, out) = automaton
    val counts = new Array[Long](patterns.length)
    val it = input.asInstanceOf[UTF8String].toString.codePoints().iterator()
    var node = 0
    while (it.hasNext) {
      val c = it.nextInt()
      while (node != 0 && !goto(node).contains(c)) node = fail(node)
      node = goto(node).getOrElse(c, 0)
      var hits = out(node)
      while (hits.nonEmpty) { counts(hits.head) += 1; hits = hits.tail }
    }
    new GenericArrayData(counts.map(v => v: Any))
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatchCounts =
    copy(child = newChild)
  override def prettyName: String = "multi_match_counts"
}

object matching {
  def multi_match_counts(text: Column, patterns: Seq[String]): Column =
    ColumnBridge.column(MultiMatchCounts(ColumnBridge.expression(text), patterns))
}
