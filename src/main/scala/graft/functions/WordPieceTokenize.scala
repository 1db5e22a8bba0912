package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** WordPiece GREEDY LONGEST-MATCH tokenization of ONE word — the BERT
  * inference algorithm (Wu et al. 2016 §4.1; Devlin et al. 2019):
  * starting at the word head, repeatedly take the LONGEST vocabulary
  * entry matching at the cursor (continuation positions match with the
  * "##" prefix prepended), and if any position matches nothing the
  * WHOLE word becomes [UNK]. Structurally different from BPE
  * tokenization: BPE re-applies the training merge composition (so a
  * training word always tokenizes to its final training symbols) while
  * WordPiece matches against the vocabulary as a STRING SET — the two
  * can disagree on the same vocab, which is why
  * [[graft.ops.WordPiece]]'s oracle replays longest-match itself
  * instead of joining the training word table the way q154/q178 can.
  *
  * Input grain is a WORD, not a text: the corpus convention (suite
  * lowercase whitespace split) stays in the Column layer, which maps
  * every word OCCURRENCE through this expression; the per-JVM word
  * cache (one per vocabulary, shared by every task) is the per-word
  * memoization, so no relation-level dictionary is needed.
  *
  * Semantics contract (mirrored verbatim by the DuckDB oracle's
  * unrolled step CTEs):
  *  - positions/lengths count CODE POINTS (DuckDB's substr/length
  *    grain; Java chars would split surrogate pairs);
  *  - words longer than `maxChars` code points are [UNK] wholesale
  *    (HF WordPiece's max_input_chars_per_word, tightened so the
  *    oracle's step unroll is bounded by construction);
  *  - the vocabulary is a string set — a raw token and a
  *    "##"-composed continuation that spell the same string are the
  *    same entry (the published convention's own ambiguity, kept);
  *  - ties cannot occur (one candidate per length); the scan always
  *    advances or the word is [UNK], so tokenize terminates in at
  *    most `maxChars` steps — the oracle's unroll bound.
  */
case class WordPieceTokenizeExpr(child: Expression, vocab: Seq[String],
    maxChars: Int)
    extends UnaryExpression
    with org.apache.spark.sql.graftbridge.GraftExpectsInputTypes {
  override def acceptedTypes: Seq[Seq[DataType]] = Seq(Seq(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "wordpiece_tokenize"

  @transient private lazy val table = WordPieceTokenizeOps.tableFor(vocab, maxChars)

  override def nullSafeEval(input: Any): Any =
    WordPieceTokenizeOps.tokenizeWord(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // Reference the vocab LIST, not the Table: codegen references are
    // java-serialized per task; resolving through tableFor at generated-
    // class init lands every task on the ONE JVM-shared Table for this
    // vocabulary (the BpeTokenizeExpr discipline).
    val vocabRef = ctx.addReferenceObj("wpVocab", vocab,
      "scala.collection.immutable.Seq")
    val tableVar = ctx.addMutableState(
      classOf[WordPieceTokenizeOps.Table].getName, "wpTable",
      v => s"$v = graft.functions.WordPieceTokenizeOps$$.MODULE$$.tableFor(" +
        s"(scala.collection.immutable.Seq) $vocabRef, $maxChars);")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordPieceTokenizeOps$$.MODULE$$.tokenizeWord($c, $tableVar)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordPieceTokenizeExpr = copy(child = newChild)
}

object WordPieceTokenizeOps {

  val Unk = "[UNK]"
  private val unkArray: Array[AnyRef] = Array(UTF8String.fromString(Unk))

  /** Per-vocabulary state: the string set, the probe caps, and the
    * word cache. Two caps because the candidate string differs by
    * position: at a CONTINUATION position the candidate is
    * "##" + piece, so only entries starting with "##" can match and
    * the longest matchable piece is the longest STRIPPED content
    * (`maxContentCps`); at the WORD-INITIAL position the candidate is
    * the raw piece, so ANY entry can match with its FULL length —
    * including entries that themselves start with literal "##"
    * (reachable on '#'-bearing corpora: continuation base symbols
    * like "##z" match a word literally starting "##z", and merges
    * like "#"+"###" produce word-initial "####"), whose full length
    * exceeds their stripped length. Capping pos 0 at the stripped
    * length would return a shorter match (or [UNK]) where the
    * documented string-set longest match — and the DuckDB oracle,
    * which probes every length — returns the longer token.
    */
  final class Table(val vocab: Set[String], val maxChars: Int)
      extends Serializable {
    val maxContentCps: Int =
      if (vocab.isEmpty) 0
      else vocab.iterator.map { t =>
        val c = if (t.startsWith("##")) t.substring(2) else t
        c.codePointCount(0, c.length)
      }.max
    val maxFullCps: Int =
      if (vocab.isEmpty) 0
      else vocab.iterator.map(t => t.codePointCount(0, t.length)).max
    @transient lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Array[AnyRef]]()
  }

  // One Table per distinct (vocab, maxChars) per JVM — every task of
  // every stage shares the word cache; keyed by the exact vocabulary.
  private val tables = new java.util.concurrent.ConcurrentHashMap[
    (Seq[String], Int), Table]()

  def tableFor(vocab: Seq[String], maxChars: Int): Table = {
    if (tables.size() > 64) tables.clear()
    tables.computeIfAbsent((vocab, maxChars),
      k => new Table(k._1.toSet, k._2))
  }

  /** Greedy longest-match for ONE word (see class doc). */
  def tokenizeWord(word: UTF8String, table: Table): ArrayData = {
    val cache = table.cache
    val w = word.toString
    var toks = cache.get(w)
    if (toks == null) {
      toks = matchWord(w, table)
      if (cache.size() > 4000000) cache.clear()
      cache.putIfAbsent(w, toks)
    }
    new GenericArrayData(toks)
  }

  private def matchWord(w: String, table: Table): Array[AnyRef] = {
    val cps = w.codePoints().toArray
    val n = cps.length
    if (n == 0) return Array.empty[AnyRef]
    if (n > table.maxChars) return unkArray
    val out = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
    var pos = 0
    while (pos < n) {
      // Word-initial candidates are RAW strings: cap at the longest
      // FULL entry; continuation candidates are "##"+piece: cap at
      // the longest stripped content (see Table doc).
      val cap = if (pos == 0) table.maxFullCps else table.maxContentCps
      var len = math.min(n - pos, math.max(cap, 1))
      var matched: String = null
      while (len >= 1 && matched == null) {
        val piece = new String(cps, pos, len)
        val cand = if (pos > 0) "##" + piece else piece
        if (table.vocab.contains(cand)) matched = cand
        else len -= 1
      }
      if (matched == null) return unkArray
      out += UTF8String.fromString(matched)
      pos += len
    }
    out.toArray
  }
}
