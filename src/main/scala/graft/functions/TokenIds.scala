package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Token strings to VOCABULARY IDS, element by element and in order:
  * `vocab` is (token, token_id) pairs, a string it lacks (or a null
  * element) maps to -1, and a string listed twice takes its smallest
  * id. The WordPiece and Unigram ids paths feed it their kernels'
  * flattened per-word output, so a row resolves its ids in the same
  * projection that tokenized it. The id table is built once per JVM per
  * vocabulary (the [[WordPieceTokenizeOps.tableFor]] pattern).
  */
case class TokenIdsExpr(child: Expression, vocab: Seq[(String, Long)])
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.GraftExpectsInputTypes {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_ids"

  @transient private lazy val table = TokenIdsOps.tableFor(vocab)

  override def nullSafeEval(input: Any): Any =
    TokenIdsOps.lookup(input.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // The vocabulary LIST is the codegen reference; tableFor at
    // generated-class init lands every task on the one JVM-shared table.
    val vocabRef = ctx.addReferenceObj("tiVocab", vocab,
      "scala.collection.immutable.Seq")
    val tableVar = ctx.addMutableState("java.util.HashMap", "tiTable",
      v => s"$v = graft.functions.TokenIdsOps$$.MODULE$$.tableFor(" +
        s"(scala.collection.immutable.Seq) $vocabRef);")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TokenIdsOps$$.MODULE$$.lookup($c, $tableVar)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): TokenIdsExpr = copy(child = newChild)
}

object TokenIdsOps {
  private val tables = new java.util.concurrent.ConcurrentHashMap[
    Seq[(String, Long)], java.util.HashMap[UTF8String, java.lang.Long]]()

  def tableFor(vocab: Seq[(String, Long)]): java.util.HashMap[UTF8String, java.lang.Long] = {
    if (tables.size() > 64) tables.clear()
    tables.computeIfAbsent(vocab, v => {
      val ids = new java.util.HashMap[UTF8String, java.lang.Long]()
      for ((t, id) <- v.sortBy(_._2) if t != null)
        ids.putIfAbsent(UTF8String.fromString(t), id)
      ids
    })
  }

  def lookup(tokens: ArrayData,
      table: java.util.HashMap[UTF8String, java.lang.Long]): ArrayData = {
    val out = new Array[Long](tokens.numElements())
    for (i <- out.indices) {
      val id = if (tokens.isNullAt(i)) null else table.get(tokens.getUTF8String(i))
      out(i) = if (id == null) -1L else id.longValue
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
