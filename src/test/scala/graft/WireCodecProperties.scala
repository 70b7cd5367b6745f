package graft

import graft.sources.KafkaWire
import org.scalacheck.{Gen, Prop, Properties}

/** Randomized roundtrip of the record-batch v2 codec battery:
  * arbitrary key/value byte arrays (nulls included, any bytes — not
  * just UTF-8), any record count, any broker-assigned base offset,
  * through each compression path (none / gzip / snappy / lz4). Pins
  * three contracts at once:
  *
  *  - CONTENT: keys, values, headers, per-record timestamps and
  *    null-ness survive encode → (compress → decompress) → decode
  *    byte-exactly, under CRC32C verification per batch;
  *  - OFFSETS: relative deltas reconstruct the absolute offsets for
  *    any assigned base;
  *  - TRUNCATION: slicing the encoded set at any byte boundary never
  *    throws and never fabricates records — the decoder returns a
  *    prefix of the full decode (the grow-on-truncation recovery's
  *    foundational assumption). */
object WireCodecProperties extends Properties("graft.wirecodec") {

  private val bytesGen: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null.asInstanceOf[Array[Byte]]),
    1 -> Gen.const(Array.emptyByteArray),
    6 -> Gen.chooseNum(1, 200).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray)))

  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean =
    (a == null && b == null) ||
      (a != null && b != null && java.util.Arrays.equals(a, b))

  private val codecs = Seq(KafkaWire.Codec.Gzip, KafkaWire.Codec.Snappy,
    KafkaWire.Codec.Lz4)

  private val headerGen: Gen[(String, Array[Byte])] = for {
    k <- Gen.alphaNumStr.map(_.take(12))
    v <- bytesGen
  } yield (k, v)

  /** v2 records: per-record timestamps and headers. */
  private val v2RecordsGen: Gen[List[KafkaWire.Record]] = for {
    n <- Gen.chooseNum(1, 20)
    baseTs <- Gen.chooseNum(0L, 1L << 41)
    recs <- Gen.listOfN(n, for {
      k <- bytesGen; v <- bytesGen
      dts <- Gen.chooseNum(-1000L, 100000L)
      hs <- Gen.chooseNum(0, 3).flatMap(Gen.listOfN(_, headerGen))
    } yield (k, v, baseTs + dts, hs))
  } yield recs.zipWithIndex.map { case ((k, v, ts, hs), i) =>
    KafkaWire.Record(i.toLong, ts, k, v, hs)
  }

  private val allCodecs = KafkaWire.Codec.None +: codecs

  /** CRC32C pinned to the published check value (RFC 3720 §B.4 /
    * the iSCSI polynomial): crc32c("123456789") = 0xE3069283. The v2
    * batch CRC rides this exact implementation. */
  property("crc32c matches the published RFC 3720 test vector") = Prop {
    val v = "123456789".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    KafkaWire.crc32c(v, 0, v.length) == 0xE3069283L
  }

  property("v2 batch roundtrip: content, headers, per-record timestamps, offsets") =
    Prop.forAll(v2RecordsGen, Gen.chooseNum(0L, Long.MaxValue / 4),
        Gen.oneOf(allCodecs)) { (recs, base, codec) =>
      // encode at the broker-assigned base (relative deltas inside)
      val rebased = recs.map(r => r.copy(offset = base + r.offset))
      val batch = KafkaWire.encodeRecordBatch(base, rebased, codec,
        producerId = 77L, producerEpoch = 3, baseSequence = 41)
      val (out, _) = KafkaWire.decodeRecordSet(batch)
      val meta = KafkaWire.decodeRecordBatches(batch)
      out.length == recs.length &&
        meta.length == 1 && meta.head.producerId == 77L &&
        meta.head.producerEpoch == 3 && meta.head.baseSequence == 41 &&
        out.zip(rebased).forall { case (a, b) =>
          a.offset == b.offset && a.timestamp == b.timestamp &&
            sameBytes(a.key, b.key) && sameBytes(a.value, b.value) &&
            a.headers.length == b.headers.length &&
            a.headers.zip(b.headers).forall { case ((ak, av), (bk, bv)) =>
              ak == bk && sameBytes(av, bv) }
        }
    }

  property("v2 truncation at any byte yields a clean batch prefix, never garbage") =
    Prop.forAll(v2RecordsGen, v2RecordsGen, Gen.oneOf(allCodecs)) {
      (recsA, recsB, codec) =>
        // two concatenated batches, the broker's multi-batch serve shape
        val a = KafkaWire.encodeRecordBatch(0L, recsA, codec)
        val b = KafkaWire.encodeRecordBatch(recsA.length.toLong,
          recsB.map(r => r.copy(offset = recsA.length + r.offset)), codec)
        val set = a ++ b
        val (full, _) = KafkaWire.decodeRecordSet(set)
        Prop.forAll(Gen.chooseNum(0, set.length)) { cut =>
          val (out, _) =
            KafkaWire.decodeRecordSet(java.util.Arrays.copyOf(set, cut))
          // batches are atomic: a cut decodes to 0, |A| or |A|+|B| records
          (out.length == 0 || out.length == recsA.length ||
            out.length == full.length) &&
            out.zip(full).forall { case (x, y) =>
              x.offset == y.offset && sameBytes(x.value, y.value) }
        }
    }

  property("v2 corruption anywhere past the length field fails CRC32C, never yields rows") =
    Prop.forAll(v2RecordsGen, Gen.oneOf(allCodecs)) { (recs, codec) =>
      val batch = KafkaWire.encodeRecordBatch(0L, recs, codec)
      // flip one byte in the CRC-covered region (attributes..end)
      Prop.forAll(Gen.chooseNum(21, batch.length - 1)) { at =>
        val bad = batch.clone()
        bad(at) = (bad(at) ^ 0x40).toByte
        Prop.throws(classOf[java.io.IOException]) {
          KafkaWire.decodeRecordSet(bad)
        }
      }
    }

  property("zigzag varint/varlong roundtrip over the full Int/Long range") =
    Prop.forAll { (i: Int, l: Long) =>
      val w = new KafkaWire.Writer()
      w.varint(i); w.varlong(l); w.varint(-1); w.varlong(Long.MinValue)
      val r = new KafkaWire.Reader(w.result())
      r.varint() == i && r.varlong() == l && r.varint() == -1 &&
        r.varlong() == Long.MinValue
    }

  property("control batch roundtrip: marker type, pid/epoch, transactional+control bits") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue / 2), Gen.chooseNum(0L, 9999L),
        Gen.chooseNum(0, 100), Gen.oneOf(true, false)) {
      (off, pid, epoch, commit) =>
        val b = KafkaWire.decodeRecordBatches(
          KafkaWire.encodeControlBatch(off, pid, epoch, commit, 7L)).head
        val key = new KafkaWire.Reader(b.records.head.key)
        key.int16() // version
        b.control && b.transactional && b.producerId == pid &&
          b.producerEpoch == epoch && b.baseOffset == off &&
          b.endOffset == off + 1 &&
          key.int16() == (if (commit) 1 else 0)
    }

  // ── KIP-482 flexible encodings (r16 directive #6) ──────────────────

  private val strGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null.asInstanceOf[String]),
    1 -> Gen.const(""),
    6 -> Gen.chooseNum(1, 80).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('한', '글',
        'é', '中', 'ÿ'))).map(_.mkString)))

  property("uvarint roundtrip: any non-negative int, no zigzag") =
    Prop.forAll(Gen.chooseNum(0, Int.MaxValue)) { v =>
      val bytes = new KafkaWire.Writer().uvarint(v).result()
      val r = new KafkaWire.Reader(bytes)
      r.uvarint() == v && r.remaining == 0
    }

  property("compact string/bytes roundtrip: null, empty, and unicode survive") =
    Prop.forAll(strGen, bytesGen) { (s, b) =>
      val bytes = new KafkaWire.Writer()
        .compactStr(s).compactBytes(b).result()
      val r = new KafkaWire.Reader(bytes)
      val s2 = r.compactStr(); val b2 = r.compactBytes()
      (if (s == null) s2 == null else s2 == s) &&
        sameBytes(b, b2) && r.remaining == 0
    }

  /** The KIP-482 forward-compatibility contract: a reader must WALK
    * PAST tagged fields it does not understand — any tag set, any
    * payload sizes — and land exactly on the bytes that follow. */
  property("tag-buffer walk: unknown tagged fields are skipped, the cursor lands after") =
    Prop.forAll(
      Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0, 1000),
          Gen.chooseNum(0, 50).flatMap(k =>
            Gen.listOfN(k, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
              .map(_.toArray))))),
      Gen.chooseNum(Int.MinValue, Int.MaxValue)) { (tags, sentinel) =>
      val w = new KafkaWire.Writer().uvarint(tags.length)
      tags.foreach { case (tag, payload) =>
        w.uvarint(tag).uvarint(payload.length).raw(payload)
      }
      w.int32(sentinel) // the field AFTER the tag buffer
      val r = new KafkaWire.Reader(w.result())
      r.skipTags()
      r.int32() == sentinel && r.remaining == 0
    }
}
