package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd token n-gram shingling.
  *
  * Semantics (kept identical to the higher-order-function formulation it
  * replaces, and to the DuckDB oracle's
  * `list_distinct(list_transform(range(...), i -> array_to_string(toks[i:i+n-1], ' ')))`):
  *
  *   toks = split(text, "\\s+")          (Java regex, limit -1)
  *   length(toks) < n      -> empty array
  *   otherwise             -> first-occurrence-distinct list of
  *                            toks[i..i+n-1] joined by one space
  *
  * Why an Expression and not `transform(sequence(...), ...)`: Spark's
  * higher-order functions are interpreted (no whole-stage codegen), and
  * profiled at ~1 ms/document they dominate every shingle-based dedup
  * operator. This kernel is one compiled method per row — the same
  * pattern as [[L2SquaredDistance]] for vector distance.
  */
case class TokenShingles(child: Expression, n: Int,
                         distinct: Boolean = true)
    extends UnaryExpression {
  override def prettyName: String = "token_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument and n >= 1, " +
        s"got ${child.dataType.sql}, n=$n")

  override def nullSafeEval(input: Any): Any =
    TokenShingles.compute(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TokenShingles.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenShingles {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** One compiled pass per row: split, slide an n-window, join with one
    * space; first-occurrence dedup when `distinct`, full multiset when
    * not (pair counting — e.g. BPE — needs multiplicity). Called from
    * generated code. */
  def compute(text: UTF8String, n: Int, distinct: Boolean = true): ArrayData = {
    val toks = WS.split(text.toString, -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen: java.util.Collection[String] =
      if (distinct) new java.util.LinkedHashSet[String](toks.length * 2)
      else new java.util.ArrayList[String](toks.length)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen'd per-row MinHash: for each of `numHashes` 8-hex slices, the
  * minimum over the row's distinct token `n`-gram shingles s
  * ([[TokenShingles]]) of slice h of md5(s) ‖ md5("1:"‖s) ‖ md5("2:"‖s)
  * ‖ … — slice h is hex characters 8h+1..8h+8 of that digest string, so
  * each digest serves four slices. A row with no shingle yields an
  * empty array. The min over a union of rows is the component-wise min
  * of their per-row results, so a per-id aggregate of this array equals
  * the explode-every-shingle aggregate it replaces, while each shingle's
  * digests live only inside one compiled call.
  */
case class MinHashSlices(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {
  override def prettyName: String = "minhash_slices"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n >= 1 && numHashes >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, n >= 1 and numHashes >= 1, " +
        s"got ${child.dataType.sql}, n=$n, numHashes=$numHashes")

  override def nullSafeEval(input: Any): Any =
    MinHashSlices.compute(input.asInstanceOf[UTF8String], n, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashSlices.compute($c, $n, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSlices {
  private val HexChars =
    "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Called from generated code. A slice compares as its 8 lowercase
    * hex characters do, which is as the unsigned 32-bit big-endian value
    * of its 4 digest bytes, so the mins are kept as those values and
    * rendered to hex once. */
  def compute(text: UTF8String, n: Int, numHashes: Int): ArrayData = {
    val sh = TokenShingles.compute(text, n)
    if (sh.numElements() == 0) return new GenericArrayData(Array.empty[Any])
    val nDigests = (numHashes + 3) / 4
    val salts = Array.tabulate(nDigests)(i =>
      if (i == 0) Array.emptyByteArray
      else s"$i:".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var k = 0
    while (k < sh.numElements()) {
      val s = sh.getUTF8String(k).getBytes
      var i = 0
      while (i < nDigests) {
        md.update(salts(i))
        val dg = md.digest(s)
        var q = 0
        while (q < 4 && i * 4 + q < numHashes) {
          val v = ((dg(4 * q) & 0xffL) << 24) | ((dg(4 * q + 1) & 0xffL) << 16) |
            ((dg(4 * q + 2) & 0xffL) << 8) | (dg(4 * q + 3) & 0xffL)
          if (v < mins(i * 4 + q)) mins(i * 4 + q) = v
          q += 1
        }
        i += 1
      }
      k += 1
    }
    new GenericArrayData(mins.map { v =>
      val hex = new Array[Byte](8)
      var j = 0
      while (j < 8) { hex(j) = HexChars(((v >>> (28 - 4 * j)) & 0xf).toInt); j += 1 }
      UTF8String.fromBytes(hex): Any
    })
  }
}

/** Codegen'd content-defined chunking (see [[graft.text.CdcChunks]] for
  * the operator-level story). One compiled pass per row: slide a w-char
  * window, boundary where md5(window) starts with hex nibble '0', emit
  * (chunk_no, chunk_len, chunk_md5) structs.
  *
  * Why an Expression: the higher-order-function formulation re-evaluates
  * the O(L)-md5 boundary array at every lambda reference (Catalyst inlines
  * expression trees, and interpreted HOFs have no common-subexpression
  * reuse), which profiled at ~1 s/document — this kernel computes each
  * window hash exactly once. `java.security.MessageDigest("MD5")` over the
  * window's UTF-8 bytes is bit-identical to Spark's and DuckDB's `md5`,
  * so the DuckDB oracle pins the kernel's semantics row by row.
  */
case class CdcChunkList(child: Expression, w: Int)
    extends UnaryExpression {
  override def prettyName: String = "cdc_chunk_list"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("chunk_no", LongType, nullable = false),
      StructField("chunk_len", LongType, nullable = false),
      StructField("chunk_md5", StringType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument and w >= 1, " +
        s"got ${child.dataType.sql}, w=$w")

  override def nullSafeEval(input: Any): Any =
    CdcChunkList.compute(input.asInstanceOf[UTF8String], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcChunkList.compute($c, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunkList {
  private val HexChars = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = HexChars((bytes(i) >> 4) & 0xF)
      out(i * 2 + 1) = HexChars(bytes(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  /** Called from generated code. Semantics identical to the DuckDB
    * oracle's list formulation (CODE-POINT positions, 1-based — DuckDB
    * `length`/`substr` and Spark `substr` both count code points, so a
    * supplementary-plane character is ONE position, never a surrogate
    * pair; boundary after i iff md5(text[i-w+1..i]) high nibble is 0; doc
    * end closes the last chunk; empty text yields one empty chunk). */
  def compute(text: UTF8String, w: Int): ArrayData = {
    val cp = text.toString.codePoints().toArray
    val L = cp.length
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5At(from: Int, until: Int): Array[Byte] =
      md.digest(new String(cp, from, until - from)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = w
    while (i <= L) {
      if ((md5At(i - w, i)(0) & 0xF0) == 0) bounds += i
      i += 1
    }
    if (bounds.isEmpty || bounds.last != L) bounds += L
    val rows = new Array[Any](bounds.length)
    var start = 1
    var j = 0
    while (j < bounds.length) {
      val b = bounds(j)
      val chunkMd5 = hex(md5At(start - 1, b))
      rows(j) = org.apache.spark.sql.catalyst.InternalRow(
        (j + 1).toLong, (b - start + 1).toLong,
        UTF8String.fromString(chunkMd5))
      start = b + 1
      j += 1
    }
    new GenericArrayData(rows)
  }
}

/** Codegen'd Unicode NFC normalization (canonical composition) — the
  * text-pipeline primitive Spark SQL lacks natively: web-scraped corpora
  * mix precomposed (U+00E9 'é') and decomposed (e + U+0301) forms of the
  * SAME text, which defeats exact-hash dedup, shingle matching, and
  * vocabulary counting unless every string is normalized at ingest
  * (every serious tokenizer pipeline — SentencePiece's default — runs
  * NFKC/NFC first; cf. the reference's content cleanup at
  * src/app.py:156-178, which strips but does not normalize).
  *
  * Semantics = `java.text.Normalizer.normalize(s, NFC)`, byte-compatible
  * with DuckDB's `nfc_normalize` (both implement Unicode canonical
  * composition, so the oracle comparison is exact). The fast path skips
  * allocation when the input is already NFC (the overwhelmingly common
  * case — `Normalizer.isNormalized` is a table lookup scan). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def prettyName: String = "nfc_normalize"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  import java.text.Normalizer

  /** Called from generated code. */
  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}

/** Column-level API for the text kernels. */
object TextFunctions {
  def tokenShingles(text: Column, n: Int): Column =
    Bridge.column(TokenShingles(Bridge.expression(text), n))

  /** Multiset variant (keeps duplicate shingles — pair counting). */
  def tokenShinglesAll(text: Column, n: Int): Column =
    Bridge.column(TokenShingles(Bridge.expression(text), n, distinct = false))

  def minhashSlices(text: Column, n: Int, numHashes: Int): Column =
    Bridge.column(MinHashSlices(Bridge.expression(text), n, numHashes))

  def cdcChunkList(text: Column, w: Int): Column =
    Bridge.column(CdcChunkList(Bridge.expression(text), w))

  def nfcNormalize(text: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(text)))
}
