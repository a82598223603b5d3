package graft.detectors

import org.apache.spark.unsafe.types.UTF8String

/** Spark's ascending order, applied on the driver. A check that collects
  * O(keys) rows sorts them here rather than through a global `orderBy`,
  * which costs a range-sampling job and a shuffle. */
private[detectors] object DriverOrder {

  /** `ORDER BY key ASC` on strings: nulls first, then UTF-8 byte order, as
    * Spark compares strings (Java's `compareTo` orders UTF-16 code units,
    * which differs above U+FFFF). */
  val strings: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }
}
