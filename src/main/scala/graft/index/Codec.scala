package graft.index

import graft.model.PostingBlock

/** Posting-list compression: delta + LEB128 varint with per-block max
  * metadata (north_rule: "delta-encoded + varint-compressed docID blocks
  * and per-block max-score metadata"). Plain Scala — runs inside typed
  * `mapPartitions`, off the Catalyst expression tree, so the hot codec
  * loops stay monomorphic and JIT-friendly (SURVEY.md §2.9).
  */
object Codec {

  /** Unsigned LEB128 append. */
  def writeVarLong(buf: java.io.ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0L) {
      buf.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    buf.write(v.toInt)
  }

  /** Byte length of the unsigned LEB128 encoding of `v` (≥ 1). */
  @inline def varLen(v: Long): Int =
    (63 - java.lang.Long.numberOfLeadingZeros(v | 1L)) / 7 + 1

  /** Write the unsigned LEB128 encoding of `value` at `a(off0)`, return
    * the offset past it. With [[varLen]] this replaces the
    * ByteArrayOutputStream encoders on the build hot path: exact-size
    * two-pass fills into a plain array — no stream object per call, no
    * synchronized `write`, no grow-and-copy, no final `toByteArray` copy
    * (the encoders run ~once per posting / once per block in the timed
    * build; bytes produced are IDENTICAL to the stream path, pinned by
    * CodecSpec round-trips).
    */
  @inline def putVar(a: Array[Byte], off0: Int, value: Long): Int = {
    var v = value
    var off = off0
    while ((v & ~0x7fL) != 0L) {
      a(off) = ((v & 0x7f) | 0x80).toByte
      off += 1
      v >>>= 7
    }
    a(off) = v.toByte
    off + 1
  }

  def encodeVarLongs(values: Array[Long]): Array[Byte] = {
    var sz = 0
    var i = 0
    while (i < values.length) { sz += varLen(values(i)); i += 1 }
    val a = new Array[Byte](sz)
    var off = 0
    i = 0
    while (i < values.length) { off = putVar(a, off, values(i)); i += 1 }
    a
  }

  def decodeVarLongs(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var pos = 0
    var i = 0
    while (i < n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      out(i) = v
      i += 1
    }
    out
  }

  def encodeVarInts(values: Array[Int]): Array[Byte] = {
    var sz = 0
    var i = 0
    while (i < values.length) { sz += varLen(values(i).toLong); i += 1 }
    val a = new Array[Byte](sz)
    var off = 0
    i = 0
    while (i < values.length) { off = putVar(a, off, values(i).toLong); i += 1 }
    a
  }

  def decodeVarInts(bytes: Array[Byte], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    decodeVarIntsInto(bytes, n, out)
    out
  }

  /** Decode `n` varints into `out(at until at + n)` — one pass, no
    * intermediate array, no boxing. The other entries of `out` are left
    * as they were.
    */
  def decodeVarIntsInto(bytes: Array[Byte], n: Int, out: Array[Int], at: Int = 0): Unit = {
    var pos = 0
    var i = at
    while (i < at + n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      out(i) = v.toInt
      i += 1
    }
  }

  /** Delta-encode an ascending docId run (first entry encoded as delta
    * from `firstDocId`, i.e. 0; strictly ascending ⇒ later deltas ≥ 1).
    */
  def deltaEncode(docIds: Array[Long]): Array[Byte] = {
    var sz = 1 // varLen(0) — the first entry's delta from itself
    var i = 1
    while (i < docIds.length) { sz += varLen(docIds(i) - docIds(i - 1)); i += 1 }
    val a = new Array[Byte](sz)
    a(0) = 0
    var off = 1
    i = 1
    while (i < docIds.length) {
      off = putVar(a, off, docIds(i) - docIds(i - 1))
      i += 1
    }
    a
  }

  def deltaDecode(bytes: Array[Byte], n: Int, firstDocId: Long): Array[Long] = {
    val out = new Array[Long](n)
    deltaDecodeInto(bytes, n, firstDocId, out)
    out
  }

  /** [[deltaDecode]] into `out(at until at + n)`: varint decode and
    * prefix sum in one pass, no intermediate deltas array.
    */
  def deltaDecodeInto(bytes: Array[Byte], n: Int, firstDocId: Long, out: Array[Long],
      at: Int = 0): Unit = {
    var acc = firstDocId
    var pos = 0
    var i = at
    while (i < at + n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      acc += v
      out(i) = acc
      i += 1
    }
  }

  /** Encode one term's postings (already sorted by docId asc) into blocks
    * of ≤ blockSize. `poss(i)` is posting i's
    * already-varint-encoded position stream (empty arrays when positions
    * are not stored) — per-block streams are a plain concatenation.
    */
  def encodeBlocks(
      termId: Long,
      shard: Int,
      bucket: Int,
      docIds: Array[Long],
      tfs: Array[Int],
      dls: Array[Int],
      poss: Array[Array[Byte]],
      blockSize: Int
  ): Iterator[PostingBlock] = {
    val n = docIds.length
    val nBlocks = (n + blockSize - 1) / blockSize
    (0 until nBlocks).iterator.map { b =>
      val lo = b * blockSize
      val hi = math.min(lo + blockSize, n)
      val ids = java.util.Arrays.copyOfRange(docIds, lo, hi)
      val t = java.util.Arrays.copyOfRange(tfs, lo, hi)
      val d = java.util.Arrays.copyOfRange(dls, lo, hi)
      var posBytes = 0
      var i = lo
      while (i < hi) { posBytes += poss(i).length; i += 1 }
      val pcat = new Array[Byte](posBytes)
      var off = 0
      i = lo
      while (i < hi) {
        System.arraycopy(poss(i), 0, pcat, off, poss(i).length)
        off += poss(i).length
        i += 1
      }
      PostingBlock(
        termId = termId, shard = shard, bucket = bucket, blockId = b,
        firstDocId = ids(0), lastDocId = ids(ids.length - 1), count = hi - lo,
        docs = deltaEncode(ids), tfs = encodeVarInts(t), dls = encodeVarInts(d),
        poss = pcat
      )
    }
  }

  final case class DecodedBlock(docIds: Array[Long], tfs: Array[Int], dls: Array[Int])

  /** A block decoded into fresh arrays — for one-shot callers. A query's
    * posting list decodes every block of a term into one set of flat
    * arrays instead ([[deltaDecodeInto]], [[decodeVarIntsInto]] via
    * `Wand.PostingList.decoded`).
    */
  def decodeBlock(b: PostingBlock): DecodedBlock =
    DecodedBlock(
      deltaDecode(b.docs, b.count, b.firstDocId),
      decodeVarInts(b.tfs, b.count),
      decodeVarInts(b.dls, b.count)
    )

  /** Per-posting positions of a block: posting i has tfs(i) positions,
    * delta-encoded (first absolute, then gaps), streams concatenated in
    * posting order. Empty poss (positions not stored) → null.
    */
  def decodePositions(b: PostingBlock, tfs: Array[Int]): Array[Array[Int]] = {
    if (b.poss == null || b.poss.isEmpty) return null
    val out = new Array[Array[Int]](b.count)
    var pos = 0
    var i = 0
    while (i < b.count) {
      out(i) = new Array[Int](tfs(i))
      pos = positionsInto(b.poss, pos, tfs(i), out(i))
      i += 1
    }
    out
  }

  /** Decode one posting's position stream (`n` = its tf) starting at
    * `bytes(off)` into `out(0 until n)`; returns the offset past it.
    */
  def positionsInto(bytes: Array[Byte], off: Int, n: Int, out: Array[Int]): Int = {
    var pos = off
    var acc = 0
    var j = 0
    while (j < n) {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = bytes(pos) & 0xff
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      acc += v.toInt
      out(j) = acc
      j += 1
    }
    pos
  }

  /** The offset past the `n` varints starting at `bytes(off)`. */
  def skipVarInts(bytes: Array[Byte], off: Int, n: Int): Int = {
    var pos = off
    var left = n
    while (left > 0) {
      if ((bytes(pos) & 0x80) == 0) left -= 1
      pos += 1
    }
    pos
  }

  /** Inverse of the tokenize pass's packed posting payload
    * (varint(tf), varint(dl), position gap stream — see PosAcc.payload):
    * returns (tf, dl, positionGapBytes). The gap stream is returned
    * still encoded — block building only concatenates it
    * ([[encodeBlocks]]); decode happens lazily at phrase-query time
    * ([[decodePositions]], which knows the per-posting counts from tfs).
    */
  def unpackPayload(pay: Array[Byte]): (Int, Int, Array[Byte]) = {
    var p = 0
    def rd(): Long = {
      var shift = 0
      var v = 0L
      var b = 0
      do {
        b = pay(p) & 0xff
        p += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      v
    }
    val tf = rd().toInt
    val dl = rd().toInt
    val pos =
      if (p == pay.length) Array.emptyByteArray
      else java.util.Arrays.copyOfRange(pay, p, pay.length)
    (tf, dl, pos)
  }

  /** Varint-delta encode one ascending position list (first absolute). */
  def encodePositions(positions: Array[Int]): Array[Byte] = {
    var sz = 0
    var prev = 0
    var i = 0
    while (i < positions.length) {
      sz += varLen((positions(i) - prev).toLong)
      prev = positions(i)
      i += 1
    }
    val a = new Array[Byte](sz)
    var off = 0
    prev = 0
    i = 0
    while (i < positions.length) {
      off = putVar(a, off, (positions(i) - prev).toLong)
      prev = positions(i)
      i += 1
    }
    a
  }
}
