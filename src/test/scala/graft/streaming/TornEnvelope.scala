package graft.streaming

import java.nio.file.{Files, Paths}

/** Reading a torn persisted envelope (`KmvStats`, `CmsStats`,
  * `BloomSeenSet`). */
object TornEnvelope {
  /** What `System.err` gets while `body` loads the envelope at `path`
    * with its `.crc` sidecar deleted. The local filesystem's checksum
    * would otherwise report a torn file as a ChecksumException before
    * the reader reaches the tear. */
  def warningWithoutSidecar(path: String)(body: => Unit): String = {
    val p = Paths.get(path)
    Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try body finally System.setErr(err)
    buf.toString
  }
}
