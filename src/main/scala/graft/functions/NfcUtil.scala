package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Kernel of [[Kernels.NfcNormalize]]: Unicode NFC normalization, the
  * first stage of any text-cleaning pipeline (NFC is what makes
  * visually-equal strings byte-equal, so they hash identically). Spark
  * ships no normalization built-in.
  */
object NfcUtil {

  /** Unicode NFC (canonical composition) of a UTF8String. The JDK's
    * `java.text.Normalizer` implements the same Unicode normalization
    * algorithm utf8proc does on the DuckDB side (`nfc_normalize`), so a
    * decomposed "e" + COMBINING ACUTE composes to the identical "é" byte
    * sequence in both engines. Fast path: `isNormalized` is O(n) with no
    * allocation, and real corpora are overwhelmingly already NFC.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
