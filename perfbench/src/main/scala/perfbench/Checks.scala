package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import graft.core.archive.Tar
import org.apache.spark.sql.Row

/** Outcome checks shared by the TRE workloads. Each appends a line per
  * disagreement with the planted faults to `problems`.
  */
object Checks {
  /** Rows are (bagId, ok, errors). */
  def verdicts(bags: Seq[Bag], verdicts: Seq[Row], problems: ArrayBuffer[String],
               plantWrong: Boolean): Unit = {
    val got = verdicts.map(r => r.getString(0) -> (r.getBoolean(1), r.getSeq[String](2).toSet)).toMap
    if (verdicts.size != bags.size) problems += s"verdicts: ${verdicts.size} for ${bags.size} bags"
    bags.zipWithIndex.foreach { case (b, k) =>
      // --plant-wrong: expect one clean bag to fail, to prove the check bites
      val expected = if (plantWrong && k == 0) Set("planted wrong expectation") else b.expectedErrors
      got.get(b.ref) match {
        case None => problems += s"verdicts: none for ${b.ref}"
        case Some((ok, errors)) =>
          if (ok != expected.isEmpty || errors != expected)
            problems += s"verdicts: ${b.ref} (${b.fault.name}) ok=$ok errors=$errors, expected $expected"
      }
    }
  }

  def outputs(okBags: Seq[Bag], outputs: Seq[Row], out: File,
              problems: ArrayBuffer[String]): Unit = {
    val okRefs = okBags.map(b => b.ref -> b).toMap
    val got = outputs.map(_.getString(0))
    if (got.sorted != okRefs.keys.toSeq.sorted)
      problems += s"outputs: ${got.size} output messages for ${okRefs.size} clean bags"
    outputs.foreach { r =>
      val ref = r.getString(0)
      val sha = r.getString(1)
      val archive = new File(out, s"$ref.tar.gz")
      val sidecar = new File(out, s"$ref.tar.gz.sha256")
      if (!archive.isFile || !sidecar.isFile) problems += s"outputs: $ref archive or sidecar missing"
      else {
        val side = new String(java.nio.file.Files.readAllBytes(sidecar.toPath), "UTF-8")
        if (side != s"$sha  $ref.tar.gz\n") problems += s"outputs: $ref sidecar disagrees with the recorded digest"
        if (BagGen.fileSha(archive) != sha) problems += s"outputs: $ref archive digest differs from the recorded one"
        okRefs.get(ref).foreach { b =>
          val docs = Tar.entriesFromStream(archive.getName, new java.io.FileInputStream(archive))
            .filter(e => !e.isDir && !e.name.endsWith("metadata.json")).map(e => BagGen.sha(e.bytes)).toSeq
          if (docs != Seq(b.judgmentSha)) problems += s"outputs: $ref package does not carry the judgment doc unchanged"
        }
      }
      if (r.getString(2) == null || r.getString(3) == null || r.getString(4) == null)
        problems += s"outputs: $ref message lacks URLs"
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
