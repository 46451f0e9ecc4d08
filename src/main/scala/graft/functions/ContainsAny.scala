package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** "Any of these literals is a substring of the value" — the hot half of the
  * reference's `sub_match` method (codes/variable.py:207-224), whose demo
  * catalog entries carry up to ~900 ICD-prefix conditions. The scan
  * short-circuits on the first hit, exactly like the reference's loop;
  * [[CatalogProgram]]'s `SubMatch` term calls it per row.
  */
object ContainsAny {
  def containsAny(value: UTF8String, needles: Array[UTF8String]): Boolean = {
    var i = 0
    while (i < needles.length) {
      if (value.contains(needles(i))) return true
      i += 1
    }
    false
  }
}
