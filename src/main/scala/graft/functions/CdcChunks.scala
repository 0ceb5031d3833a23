package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Generator: content-defined chunks of a token array in ONE
  * map-side pass — (chunk_seq, start_pos, n_tokens, chunk_md5) rows,
  * bit-identical to the relational derivation it replaced (posexplode
  * every token → per-token portable gram hash → per-doc exclusive
  * prefix-sum window over cut flags → groupBy(doc, chunk) with
  * collect_list + sort + array_join + md5) and to the DuckDB oracle
  * that still replays that derivation.
  *
  * Why fused: the relational chain shuffled every TOKEN (the
  * collect_list rebuild moves (pos, token) structs through the
  * chunk-group exchange) and rebuilt chunk text through interpreted
  * higher-order lambdas — measured 222 s full-eval at the 100× rung
  * (~101× of its 1× cost: compute-bound, nothing amortizing). The
  * chunking decision is strictly per-document and sequential, so it
  * belongs in the scan stage: this generator walks the token array
  * once, md5s each [[graft.functions.CrossEngine.portableHash]]
  * 3-gram for the boundary mask, streams token bytes into the chunk
  * digest incrementally (no joined string, no token shuffle — only
  * the emitted chunk rows ever leave the scan), and emits a row per
  * chunk.
  *
  * Cut-point semantics (pinned by CdcChunkSpec's plain-Scala
  * differential and the prefix-insertion resync test): a position
  * p0 ≥ gram−1 whose `gram`-gram `tk[p0-gram+1] ⌴ … ⌴ tk[p0]`
  * portable-hash masks to 0 (mod `mask`) is the LAST token of its chunk — the
  * relational form's exclusive prefix sum increments chunk_seq on
  * the row AFTER the cut. The final partial chunk always emits; an
  * empty token array emits nothing (the old `filter(size > 0)`).
  *
  * The gram hash is the cross-engine portable one — first 4 bytes of
  * md5 over the space-joined gram bytes, matching
  * `conv(substring(md5(gram), 1, 8), 16, 10)` — NOT xxhash: the
  * boundary rule must be replayable by the oracle.
  */
case class CdcChunks(child: Expression, mask: Long, gram: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  require(mask >= 1, s"mask must be >= 1, got $mask")
  require(gram >= 1, s"gram must be >= 1, got $gram")

  override def elementSchema: StructType = StructType(
    StructField("chunk_seq", LongType, nullable = false) ::
    StructField("start_pos", LongType, nullable = false) ::
    StructField("n_tokens", LongType, nullable = false) ::
    StructField("chunk_md5", StringType, nullable = false) :: Nil)

  private def hex(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(d.length * 2)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(d(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null || arr.numElements() == 0) return Iterator.empty
    val m = arr.numElements()
    // token bytes once; the tokenizer never emits nulls, but mirror
    // concat_ws/array_join semantics (null = absent, no separator)
    // rather than crash if a caller feeds a nullable array
    val toks = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val space = ' '.toByte
    val gramMd = java.security.MessageDigest.getInstance("MD5")
    val chunkMd = java.security.MessageDigest.getInstance("MD5")
    val out = Vector.newBuilder[InternalRow]
    var seq = 1L
    var start = 1L
    var nInChunk = 0L
    var chunkHasTok = false
    i = 0
    while (i < m) {
      if (toks(i) != null) {
        if (chunkHasTok) chunkMd.update(space)
        chunkMd.update(toks(i))
        chunkHasTok = true
      }
      nInChunk += 1
      val cut = i >= gram - 1 && {
        gramMd.reset()
        var first = true
        var j = i - (gram - 1)
        while (j <= i) {
          if (toks(j) != null) {
            if (!first) gramMd.update(space)
            gramMd.update(toks(j))
            first = false
          }
          j += 1
        }
        val d = gramMd.digest()
        val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
                ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        h % mask == 0L
      }
      if (cut || i == m - 1) {
        out += InternalRow(seq, start, nInChunk,
          UTF8String.fromString(hex(chunkMd.digest())))
        seq += 1
        start = i + 2L
        nInChunk = 0L
        chunkHasTok = false
      }
      i += 1
    }
    out.result()
  }

  override protected def withNewChildInternal(newChild: Expression)
      : CdcChunks = copy(child = newChild)
}

object CdcChunks {
  /** Column-API entry point: token array → one row per CDC chunk.
    * `gram` is the boundary-window width — callers MUST pass the same
    * constant their oracle/replay derivation uses (TextPipeline passes
    * its `CdcGram`; a hardcoded width here once desynced silently when
    * only the generator was read).
    */
  def cdc_chunks(tokens: Column, mask: Long, gram: Int): Column =
    ColumnBridge.column(CdcChunks(ColumnBridge.expression(tokens), mask, gram))
}
