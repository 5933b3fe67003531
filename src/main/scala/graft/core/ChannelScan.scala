package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.col

/** The one streaming walk over a channel-sorted signal: openseize's
  * `Producer` (core/producer.py:146), a chunked iterator over each
  * channel's samples, as a partition-local scan. FIR `same` and the CWT
  * bank, segment assembly, polyphase resampling, the spectral frame scan
  * and the IIR block layout all ride it.
  *
  * [[scan]] walks each partition's channels in blocks of `blockSize`
  * samples. A kernel ([[Step]]) sees one sliding [[Window]] per channel,
  * indexed from the channel start (index = `headZeros` + sample index):
  * after each block it emits every output the window now allows,
  * advancing the window's cursor `next`, and returns the index the
  * window keeps from. The scan owns the rest: the channel-in-progress
  * flag (an empty window is never the new-channel signal — a kernel with
  * no halo drains its window at a block boundary mid-channel and its
  * indexing carries on), `headZeros` zeros before a channel's first
  * sample, zero padding up to `Step.padTo` once its last sample is read,
  * and the unboxed growable buffers (`x`, and `n` with `keepN`). A
  * channel's last block emits all its outputs. Task memory is
  * O(blockSize + the kernel's halo) at any channel length.
  */
object ChannelScan {

  /** (channel, n, x) channel-partitioned and (channel, n)-sorted: as
    * given when the caller guarantees it (`presorted` — true off
    * `Signal.long`'s ranking window and off any scan's output, which
    * Catalyst can't see), else one exchange plus a partition-local sort.
    */
  def ordered(sig: DataFrame, presorted: Boolean): DataFrame = {
    val s = sig.select(col("channel"), col("n"), col("x"))
    if (presorted) s else s.repartition(col("channel")).sortWithinPartitions(col("channel"), col("n"))
  }

  /** One channel's buffered values, addressed by index from its start. */
  final class Window private[ChannelScan] (headZeros: Int, keepN: Boolean) {
    private var xs = new Array[Double](1024)
    private var ns = if (keepN) new Array[Long](1024) else null
    private var len = 0
    var channel: String = _
    /** Index of the first buffered value. */
    var base = 0L
    /** In-signal samples read so far. */
    var count = 0L
    /** The channel's last sample has been read (and the tail padded). */
    var done = false
    /** The kernel's output cursor: 0 at each channel start. */
    var next = 0L

    /** One past the index of the last buffered value. */
    def end: Long = base + len
    def x(i: Long): Double = xs((i - base).toInt)
    /** The input `n` at index `i` (a scan with `keepN`). */
    def n(i: Long): Long = ns((i - base).toInt)
    /** `dst` filled with the values from index `from` on. */
    def read(from: Long, dst: Array[Double]): Array[Double] = {
      System.arraycopy(xs, (from - base).toInt, dst, 0, dst.length); dst
    }
    def readN(from: Long, dst: Array[Long]): Array[Long] = {
      System.arraycopy(ns, (from - base).toInt, dst, 0, dst.length); dst
    }

    private[ChannelScan] def start(ch: String): Unit = {
      channel = ch; base = 0L; len = 0; count = 0L; done = false; next = 0L
      padTo(headZeros)
    }

    private[ChannelScan] def push(v: Double, n: Long): Unit = {
      if (len == xs.length) {
        xs = java.util.Arrays.copyOf(xs, 2 * len)
        if (keepN) ns = java.util.Arrays.copyOf(ns, 2 * len)
      }
      xs(len) = v
      if (keepN) ns(len) = n
      len += 1
    }

    private[ChannelScan] def padTo(e: Long): Unit = while (end < e) push(0.0, -1L)

    private[ChannelScan] def keepFrom(i: Long): Unit = {
      val k = math.min(i - base, len.toLong).toInt
      if (k > 0) {
        System.arraycopy(xs, k, xs, 0, len - k)
        if (keepN) System.arraycopy(ns, k, ns, 0, len - k)
        len -= k; base += k
      }
    }
  }

  /** A kernel's per-block emit step, built once per partition. */
  trait Step[T] {

    /** The length a finished channel of `count` samples is zero-padded to. */
    def padTo(count: Long): Long = 0L

    /** Appends every output the window now allows to `out`, advancing
      * `w.next`, and returns the index the window keeps from.
      */
    def emit(w: Window, out: ArrayBuffer[T]): Long
  }

  /** Streams each channel of `sig` through the kernel `step` builds. */
  def scan[T: Encoder](sig: DataFrame, presorted: Boolean, blockSize: Int, headZeros: Int = 0, keepN: Boolean = false)(
      step: () => Step[T]
  ): Dataset[T] = {
    val spark = sig.sparkSession
    import spark.implicits._
    ordered(sig, presorted)
      .as[(String, Long, Double)]
      .mapPartitions { rows =>
        val in = rows.buffered
        val k = step()
        val w = new Window(headZeros, keepN)
        var active = false
        new Iterator[Iterator[T]] {
          def hasNext: Boolean = active || in.hasNext
          def next(): Iterator[T] = {
            if (!active) { active = true; w.start(in.head._1) }
            var read = 0
            while (read < blockSize && in.hasNext && in.head._1 == w.channel) {
              val r = in.next(); w.push(r._3, r._2); read += 1
            }
            w.count += read
            w.done = !in.hasNext || in.head._1 != w.channel
            if (w.done) w.padTo(k.padTo(w.count))
            val out = ArrayBuffer.empty[T]
            val keep = k.emit(w, out)
            if (w.done) active = false else w.keepFrom(keep)
            out.iterator
          }
        }.flatten
      }
  }
}
