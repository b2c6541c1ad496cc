package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Compact binary codec for OrderBook state — used by the window-function
  * form's aggregation-buffer spill path, the streaming state store, and
  * `BboReplayExec`, which writes the checkpoint snapshots and restores
  * from them (`BookCheckpoint`). */
object BookCodec {

  def serialize(book: OrderBook): Array[Byte] = {
    val bos = new ByteArrayOutputStream(256)
    val out = new DataOutputStream(bos)
    out.writeInt(book.n)
    writeSide(out, book.bids)
    writeSide(out, book.asks)
    out.flush()
    bos.toByteArray
  }

  private def writeSide(out: DataOutputStream, side: BookSide): Unit = {
    out.writeInt(side.levelCount)
    side.foreachLevel { (k, q) => out.writeLong(k); out.writeLong(q) }
    out.writeInt(side.len)
    var i = 0
    while (i < side.len) {
      out.writeLong(side.topKeys(i)); out.writeLong(side.topQtys(i)); i += 1
    }
  }

  def deserialize(bytes: Array[Byte]): OrderBook = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val book = new OrderBook(n)
    readSide(in, book.bids)
    readSide(in, book.asks)
    book
  }

  private def readSide(in: DataInputStream, side: BookSide): Unit = {
    val m = in.readInt()
    var i = 0
    while (i < m) { side.putLevelRaw(in.readLong(), in.readLong()); i += 1 }
    val l = in.readInt()
    side.len = l
    i = 0
    while (i < l) {
      side.topKeys(i) = in.readLong(); side.topQtys(i) = in.readLong(); i += 1
    }
  }
}
