package graft.etl

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField}

/** The byte-level sketch algebra behind [[JsonEtl.sketchPartials]] and
  * [[JsonEtl.mergeSketchFrames]]: how a sketch is created, updated,
  * serialized and merged, and which columns a merged state row carries
  * after its keys. Serializable because it ships inside Spark task
  * closures (capturing the JsonEtl module itself would make every
  * fold's task serialization fail).
  */
private[graft] abstract class SketchCodec[S] extends Serializable {
  def empty(): S
  def update(sketch: S, value: Any): Unit
  def bytes(sketch: S): Array[Byte]
  /** The merged state columns after the keys, from the partials' bytes. */
  def merge(parts: Iterator[Array[Byte]]): Seq[Any]
  def fields: Seq[StructField] = Seq(StructField("sketch", BinaryType))
}

private[graft] object SketchMerges extends Serializable {
  /** Theta set sketches of lgK nominal entries. */
  def theta(lgK: Int): SketchCodec[UpdateSketch] =
    new SketchCodec[UpdateSketch] {
      def empty() =
        Sketches.updateSketchBuilder().setLogNominalEntries(lgK).build()
      def update(s: UpdateSketch, v: Any) = s.update(v.asInstanceOf[String])
      def bytes(s: UpdateSketch) = s.compact().toByteArray
      def merge(parts: Iterator[Array[Byte]]) = {
        val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
        parts.foreach(p => u.union(Sketches.wrapSketch(Memory.wrap(p))))
        Seq(u.getResult.toByteArray)
      }
    }

  /** Misra–Gries items sketches of `maxMapSize` counters (a power of 2,
    * checked here on the driver rather than inside a task).
    */
  def freq(maxMapSize: Int): SketchCodec[ItemsSketch[String]] = {
    require(maxMapSize >= 8 && Integer.bitCount(maxMapSize) == 1,
      s"maxMapSize must be a power of 2 >= 8 (ItemsSketch's contract), " +
        s"got $maxMapSize — fail here on the driver, not inside a task")
    new SketchCodec[ItemsSketch[String]] {
      def empty() = new ItemsSketch[String](maxMapSize)
      def update(s: ItemsSketch[String], v: Any) =
        s.update(v.asInstanceOf[String])
      def bytes(s: ItemsSketch[String]) =
        s.toByteArray(new ArrayOfStringsSerDe())
      def merge(parts: Iterator[Array[Byte]]) = {
        val serde = new ArrayOfStringsSerDe()
        val merged = new ItemsSketch[String](maxMapSize)
        parts.foreach(p =>
          merged.merge(ItemsSketch.getInstance(Memory.wrap(p), serde)))
        Seq(merged.toByteArray(serde))
      }
    }
  }

  /** KLL quantile sketches of accuracy `k`; a merged row also carries the
    * exact item count, `n_rows`.
    */
  def kll(k: Int): SketchCodec[KllDoublesSketch] =
    new SketchCodec[KllDoublesSketch] {
      def empty() = KllDoublesSketch.newHeapInstance(k)
      def update(s: KllDoublesSketch, v: Any) =
        s.update(v.asInstanceOf[Double])
      def bytes(s: KllDoublesSketch) = s.toByteArray
      def merge(parts: Iterator[Array[Byte]]) = {
        val merged = KllDoublesSketch.newHeapInstance(k)
        parts.foreach(p =>
          merged.merge(KllDoublesSketch.heapify(Memory.wrap(p))))
        Seq(merged.toByteArray, merged.getN)
      }
      override def fields =
        super.fields :+ StructField("n_rows", LongType, nullable = false)
    }
}
