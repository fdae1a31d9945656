package graft.tools

import graft.ext.Multimodal

/** One-shot generator for q34's literal-values oracle rows: runs the
  * real decoders over [[Multimodal.syntheticMediaPayloads]] and prints
  * each result as a DuckDB VALUES tuple in q34's output projection.
  * The printed literals are PASTED (frozen) into q34's oracle — a
  * decoder regression then fails the driver hash gate instead of
  * silently shifting both sides; MultimodalSpec asserts that every
  * row [[rows]] renders still appears verbatim in the oracle. */
object SynthMediaSql {
  /** One VALUES tuple per synthetic payload, in payload order. */
  def rows: Seq[String] = {
    def hexOf(b: Array[Byte]): String =
      b.map(x => f"${x & 0xff}%02X").mkString
    Multimodal.syntheticMediaPayloads.map { case (id, p) =>
      val f = Multimodal.decode(id, p)
      // Double.toString is shortest-roundtrip; DuckDB parses the literal
      // back to the identical IEEE double
      Seq(
        s"(${f.doc_id}",
        s"'${f.format}'",
        s"${f.n_bytes}",
        s"${f.mean_byte}",
        s"'${hexOf(f.head_bytes)}'",
        s"'${f.histo16.mkString(",")}'",
        s"'${hexOf(f.thumb)}'",
        s"${f.n_frames}",
        s"${f.width}",
        s"${f.height}",
        s"${f.channels}",
        s"${f.sample_rate}",
        s"${f.mean_signal})"
      ).mkString(", ")
    }
  }

  def main(args: Array[String]): Unit = {
    println("      VALUES")
    println(rows.map("        " + _).mkString(",\n"))
  }
}
