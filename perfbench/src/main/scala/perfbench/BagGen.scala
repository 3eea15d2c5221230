package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.security.MessageDigest
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.gzip.{GzipCompressorOutputStream, GzipParameters}

/** A planted fault in one consignment bag. */
sealed abstract class Fault(val name: String)
object Fault {
  case object None extends Fault("none")
  /** The judgment doc's bytes differ from its manifest digest. */
  case object Checksum extends Fault("checksum")
  /** The manifest lists a data file the archive does not hold. */
  case object Missing extends Fault("missing")
  /** The archive holds a data file the manifest does not list. */
  case object Extra extends Fault("extra")
  val planted: Seq[Fault] = Seq(Checksum, Missing, Extra)
}

/** One generated consignment: `<inputs>/<ref>.tar.gz`, plus the repaired
  * copy a retry re-fetches when the bag is faulty.
  */
final case class Bag(ref: String, fault: Fault, path: String, repairedPath: Option[String],
                     archiveSha: String, archiveBytes: Long, payloadBytes: Long,
                     judgmentDoc: String, judgmentSha: String) {
  /** The verdict errors the pipeline must report for this bag. */
  def expectedErrors: Set[String] = fault match {
    case Fault.None => Set.empty
    case Fault.Checksum => Set(s"checksum_mismatch: $judgmentDoc")
    case Fault.Missing =>
      Set(s"missing_file: ${BagGen.missingName}", "file count mismatch", "data file count mismatch")
    case Fault.Extra =>
      Set(s"not_in_manifest: ${BagGen.extraName}", "file count mismatch", "data file count mismatch")
  }
}

/** Deterministic BagIt consignment generator (FIXTURES.md §1 layout): each
  * bag holds `bagit.txt`, `bag-info.txt`, `manifest-sha256.txt`,
  * `file-metadata.csv` and incompressible payload files under `data/`.
  * Everything derives from the seed; nothing here touches Spark.
  */
object BagGen {
  val missingName = "data/zz-listed-not-shipped.docx"
  val extraName = "data/zz-shipped-not-listed.bin"

  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  def sha(b: Array[Byte]): String = hex(MessageDigest.getInstance("SHA-256").digest(b))

  def fileSha(f: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new java.io.FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    hex(md.digest())
  }

  /** `n` bags with `dataFiles` payload files of `fileBytes(rng)` bytes each;
    * the faults are assigned to the bags at the seeded positions.
    */
  def generate(dir: File, seed: Long, prefix: String, n: Int, dataFiles: Int,
               fileBytes: java.util.SplittableRandom => Int,
               faults: Map[Int, Fault]): Seq[Bag] = {
    dir.mkdirs()
    val repairedDir = new File(dir, "repaired")
    val rng = new java.util.SplittableRandom(seed)
    (0 until n).map { i =>
      val ref = f"$prefix-${seed % 10000}%04d-$i%05d"
      val fault = faults.getOrElse(i, Fault.None)
      val payload = (0 until dataFiles).map { k =>
        val bytes = new Array[Byte](fileBytes(rng))
        rng.nextBytes(bytes)
        // the judgment doc sorts first: the pipeline takes the first data file
        val name = if (k == 0) s"data/$ref.docx" else f"data/image$k%02d.bin"
        name -> bytes
      }
      val good = layout(ref, payload, payload.map { case (n, b) => n -> sha(b) })
      val archive = new File(dir, s"$ref.tar.gz")
      val shipped = fault match {
        case Fault.None => good
        case Fault.Checksum =>
          val (doc, bytes) = payload.head
          val bad = bytes.clone(); bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x5a).toByte
          layout(ref, (doc -> bad) +: payload.tail, payload.map { case (n, b) => n -> sha(b) })
        case Fault.Missing =>
          layout(ref, payload,
            payload.map { case (n, b) => n -> sha(b) } :+ (missingName -> sha(Array[Byte](1))))
        case Fault.Extra =>
          layout(ref, payload :+ (extraName -> Array[Byte](1, 2, 3)),
            payload.map { case (n, b) => n -> sha(b) })
      }
      writeTarGz(archive, ref, shipped)
      val repaired = if (fault == Fault.None) scala.None else {
        repairedDir.mkdirs()
        val f = new File(repairedDir, s"$ref.tar.gz")
        writeTarGz(f, ref, good)
        Some(f.getPath)
      }
      Bag(ref, fault, archive.getPath, repaired, fileSha(archive), archive.length(),
        payload.map(_._2.length.toLong).sum, payload.head._1, sha(payload.head._2))
    }
  }

  /** Root tag files + payload, in archive order. */
  private def layout(ref: String, payload: Seq[(String, Array[Byte])],
                     manifest: Seq[(String, String)]): Seq[(String, Array[Byte])] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val bagit = "BagIt-Version: 1.0\nTag-File-Character-Encoding: UTF-8\n"
    val info = s"Consignment-Type: judgment\nConsignment-Series: JUD\n" +
      s"Internal-Sender-Identifier: $ref\nPayload-Oxum: ${payload.map(_._2.length).sum}.${payload.size}\n"
    val meta = "Filepath,FileName,FileType,Filesize\n" + payload.map { case (n, b) =>
      s"$n,${n.split('/').last},File,${b.length}" }.mkString("\n") + "\n"
    val man = manifest.map { case (n, s) => s"$s  $n" }.mkString("\n") + "\n"
    Seq("bagit.txt" -> bagit.getBytes(utf8), "bag-info.txt" -> info.getBytes(utf8),
      "manifest-sha256.txt" -> man.getBytes(utf8), "file-metadata.csv" -> meta.getBytes(utf8)) ++
      payload
  }

  private def writeTarGz(f: File, ref: String, files: Seq[(String, Array[Byte])]): Unit = {
    val params = new GzipParameters
    params.setCompressionLevel(1)   // payload is incompressible; level only costs time
    val out = new TarArchiveOutputStream(new GzipCompressorOutputStream(
      new BufferedOutputStream(new FileOutputStream(f), 1 << 16), params))
    out.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    try files.foreach { case (name, bytes) =>
      val e = new TarArchiveEntry(s"$ref/$name")
      e.setSize(bytes.length.toLong)
      e.setModTime(1700000000000L)
      out.putArchiveEntry(e); out.write(bytes); out.closeArchiveEntry()
    } finally out.close()
  }

  /** Seeded, distinct positions for the planted faults, round-robin over
    * the fault kinds.
    */
  def plantFaults(seed: Long, n: Int, count: Int): Map[Int, Fault] = {
    val rng = new scala.util.Random(seed ^ 0x5deece66dL)
    rng.shuffle((0 until n).toVector).take(count).zipWithIndex.map { case (pos, k) =>
      pos -> Fault.planted(k % Fault.planted.size) }.toMap
  }
}
