package graft

import graft.sources.KafkaWire

/** Test shorthand over the wire client's one produce path: send
  * (key, value) pairs as ONE record batch (Produce v3, acks=all by
  * default) — what the specs that only need data on a partition used
  * to get from the removed message-format-v1 produce. */
object KafkaTestKit {
  def produce(c: KafkaWire.Conn, topic: String, partition: Int,
      records: Seq[(Array[Byte], Array[Byte])], timestamp: Long,
      codec: Int = KafkaWire.Codec.None, acks: Int = -1): Long =
    KafkaWire.produceV3(c, topic, partition,
      KafkaWire.encodeRecordBatch(0L,
        records.zipWithIndex.map { case ((k, v), i) =>
          KafkaWire.Record(i.toLong, timestamp, k, v) }, codec),
      acks = acks)
}
