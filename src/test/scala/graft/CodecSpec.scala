package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.Codec

class CodecSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)

  test("varint boundary values round-trip") {
    val vals = Array(0L, 1L, 127L, 128L, 16383L, 16384L, (1L << 21) - 1, 1L << 21,
      (1L << 28) - 1, 1L << 28, (1L << 35), (1L << 42), (1L << 49), (1L << 56), Long.MaxValue)
    assert(Codec.decodeVarLongs(Codec.encodeVarLongs(vals), vals.length).toSeq == vals.toSeq)
  }

  test("varint round-trip property (seeded)") {
    for (_ <- 1 to 200) {
      val a = Array.fill(rnd.nextInt(200))(rnd.nextLong().abs)
      assert(Codec.decodeVarLongs(Codec.encodeVarLongs(a), a.length).toSeq == a.toSeq)
    }
  }

  test("delta round-trip property on ascending docIds (seeded)") {
    for (_ <- 1 to 200) {
      val sorted = Array.fill(1 + rnd.nextInt(300))(rnd.nextLong().abs % (1L << 40))
        .distinct.sorted
      val enc = Codec.deltaEncode(sorted)
      assert(Codec.deltaDecode(enc, sorted.length, sorted(0)).toSeq == sorted.toSeq)
    }
  }

  test("positions round-trip through block concat streams") {
    val rnd2 = new scala.util.Random(7)
    val tfs = Array.tabulate(300)(i => 1 + (i % 9))
    val poss = tfs.map { tf =>
      Array.iterate(rnd2.nextInt(5), tf)(p => p + 1 + rnd2.nextInt(9))
    }
    val ids = Array.tabulate(300)(i => i.toLong * 7 + 3)
    val dls = Array.tabulate(300)(i => 10 + (i % 50))
    val blocks = Codec.encodeBlocks(7L, 1, 0, ids, tfs, dls,
      poss.map(Codec.encodePositions), 128).toArray
    val decoded = blocks.flatMap { b =>
      Codec.decodePositions(b, Codec.decodeVarInts(b.tfs, b.count)).map(_.toSeq)
    }
    assert(decoded.toSeq == poss.map(_.toSeq).toSeq)
    // empty position streams (storePositions = false) decode to null
    val bare = Codec.encodeBlocks(7L, 1, 0, ids, tfs, dls,
      Array.fill(300)(Array.empty[Byte]), 128).toArray
    assert(Codec.decodePositions(bare(0), Codec.decodeVarInts(bare(0).tfs, bare(0).count)) == null)
  }

  test("block encode/decode round-trips and compresses docId deltas") {
    val ids = Array.tabulate(300)(i => i.toLong * 7 + 3)
    val tfs = Array.tabulate(300)(i => 1 + (i % 9))
    val dls = Array.tabulate(300)(i => 10 + (i % 50))
    val blocks = Codec.encodeBlocks(7L, 1, 0, ids, tfs, dls,
      Array.fill(300)(Array.empty[Byte]), 128).toArray
    assert(blocks.length == 3)
    assert(blocks.map(_.count).sum == 300)
    val decoded = blocks.flatMap { b =>
      val d = Codec.decodeBlock(b)
      assert(d.docIds.head == b.firstDocId && d.docIds.last == b.lastDocId)
      d.docIds.zip(d.tfs).zip(d.dls).map { case ((a, t), l) => (a, t, l) }
    }
    assert(decoded.toSeq == ids.zip(tfs).zip(dls).map { case ((a, t), l) => (a, t, l) }.toSeq)
    // compression sanity: small deltas ≈ 1 byte each
    assert(blocks(0).docs.length < 2 * 128)
  }

  test("packed payload round-trips and numeric field values sort numerically") {
    import graft.index.FieldTerms
    // zero-padded numeric encoding: lexicographic order == numeric order
    val vs = Seq(0L, 1L, 9L, 10L, 99L, 100L, 12345L, Long.MaxValue)
    val enc = vs.map(FieldTerms.numericValue(_))
    assert(enc.sorted == enc, "lexicographic order must equal numeric order")
    assert(enc.forall(_.length == 19))
    assert(FieldTerms.numericValue(42, width = 5) == "00042")
    assertThrows[IllegalArgumentException](FieldTerms.numericValue(-1))
    assertThrows[IllegalArgumentException](FieldTerms.numericValue(123456, width = 5))
    // payload pack/unpack inverse (PosAcc.payload ↔ Codec.unpackPayload)
    val buf = new java.io.ByteArrayOutputStream()
    Codec.writeVarLong(buf, 3L) // tf
    Codec.writeVarLong(buf, 17L) // dl
    val gaps = Codec.encodePositions(Array(4, 9, 300))
    buf.write(gaps)
    val (tf, dl, pos) = Codec.unpackPayload(buf.toByteArray)
    assert(tf == 3 && dl == 17)
    assert(pos.toSeq == gaps.toSeq)
    val (tf2, dl2, pos2) = Codec.unpackPayload({
      val b2 = new java.io.ByteArrayOutputStream()
      Codec.writeVarLong(b2, 1L); Codec.writeVarLong(b2, 300L); b2.toByteArray
    })
    assert(tf2 == 1 && dl2 == 300 && pos2.isEmpty)
  }
}
