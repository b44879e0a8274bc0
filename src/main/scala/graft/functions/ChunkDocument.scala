package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Generator,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `chunk_document(tokens, maxTokens, overlap)`: a custom Catalyst
  * **Generator** (the UDTF category of the extension surface — UDF =
  * scalar Expression, UDAF = Hll, UDTF = this) emitting one row per
  * overlapping token-window chunk of a document — the standard
  * chunking stage of RAG / LLM training pipelines.
  *
  * Chunks start every `maxTokens - overlap` tokens and span up to
  * `maxTokens`; the final chunk is emitted while its start is inside
  * the document, so trailing tokens are never dropped. Output rows:
  * (chunk_idx, chunk, n_chunk_tokens). A null or empty token array
  * generates no rows (explode semantics); null token elements are
  * skipped when joining (concat_ws semantics) but occupy positions.
  *
  * As a Generator it runs inside `GenerateExec` — per-partition
  * streaming expansion, no driver involvement, and the planner can
  * prune `unrequiredChildIndex` like any built-in explode.
  */
case class ChunkDocument(child: Expression, maxTokens: Int, overlap: Int)
    extends UnaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
  require(maxTokens > 0, "maxTokens must be positive")
  require(overlap >= 0 && overlap < maxTokens,
    s"overlap must be in [0, maxTokens): got $overlap for maxTokens=$maxTokens")

  private val step = maxTokens - overlap

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false),
    StructField("n_chunk_tokens", IntegerType, nullable = false)))

  override def inputTypes = Seq(ArrayType(StringType))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return Iterator.empty
    val nChunks = (n + step - 1) / step // starts 0, step, ... < n
    val space = UTF8String.fromString(" ")
    Iterator.tabulate(nChunks) { c =>
      val start = c * step
      val end = math.min(start + maxTokens, n)
      // stay in UTF-8 end to end: concatWs joins the token bytes
      // directly, where a StringBuilder would decode every token to
      // java.lang.String and re-encode the whole chunk — two full
      // conversions per token per chunk (and tokens recur across
      // overlapping chunks) on the per-partition hot path
      val toks = new scala.collection.mutable.ArrayBuffer[UTF8String](end - start)
      var i = start
      while (i < end) {
        if (!arr.isNullAt(i)) toks += arr.getUTF8String(i)
        i += 1
      }
      new GenericInternalRow(Array[Any](
        c, UTF8String.concatWs(space, toks.toSeq: _*), end - start))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ChunkDocument =
    copy(child = newChild)
  override def prettyName: String = "chunk_document"
}

object chunking {
  def chunk_document(tokens: Column, maxTokens: Int, overlap: Int): Column =
    ColumnBridge.column(ChunkDocument(ColumnBridge.expression(tokens), maxTokens, overlap))
}
