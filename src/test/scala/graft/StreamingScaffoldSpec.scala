package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the `graft.streaming` runners on their shared scaffold: a stream
  * is started and awaited only in `Streaming.runBatches`, a table is cut
  * into single-file micro-batches only in `Streaming.sliceLanding`, and a
  * committed-batch marker file is read and written only by
  * `Streaming.BatchMarker`. A new runner that hand-rolls any of these fails
  * here instead of re-growing a private copy of the scaffold. Lineage is
  * cut (`localCheckpoint`) only where a point-in-time snapshot is the
  * point: the emote dictionary of `EmoteProviders`. */
class StreamingScaffoldSpec extends AnyFunSuite {

  /** (file, enclosing member, code) for every line of the package's
    * sources, comments blanked. The enclosing member is the latest `def`,
    * `class` or `object` declared at two-space (object member) indentation
    * or at the top level. */
  private lazy val code: Seq[(String, String, String)] = {
    val dir = Bench.repoRoot.resolve("src/main/scala/graft/streaming")
    val files = java.nio.file.Files.list(dir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
    val member = """^(?:  )?(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|case\s+)*(?:def|class|object|val)\s+(\w+).*""".r
    files.flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      // Blank block comments keeping their newlines, then line comments.
      val noBlocks = """(?s)/\*.*?\*/""".r
        .replaceAllIn(text, m => m.matched.replaceAll("[^\n]", " "))
      var current = ""
      noBlocks.split("\n", -1).toSeq.map { raw =>
        val line = raw.replaceAll("""(^|\s)//.*$""", "")
        line match {
          case member(name) => current = name
          case _ =>
        }
        (f.getFileName.toString, current, line)
      }
    }
  }

  private def membersUsing(token: String): Set[String] =
    code.collect { case (file, m, line) if line.contains(token) => s"$file:$m" }.toSet

  test("streams are checkpointed, started and awaited only in runBatches") {
    for (token <- Seq("awaitTermination", "checkpointLocation"))
      assert(membersUsing(token) === Set("Streaming.scala:runBatches"), token)
  }

  test("tables are cut into single-file micro-batches only in sliceLanding") {
    for (token <- Seq("maxFilesPerTrigger", ".coalesce(1)"))
      assert(membersUsing(token) === Set("Streaming.scala:sliceLanding"), token)
  }

  test("localCheckpoint appears only in EmoteProviders' point-in-time snapshot") {
    val files = code.collect { case (file, _, line) if line.contains("localCheckpoint") => file }
    assert(files.toSet === Set("EmoteProviders.scala"))
  }

  test("committed-batch marker files are read and written only by BatchMarker") {
    for (token <- Seq("readAllBytes", ".open(", ".write("))
      assert(membersUsing(token) === Set("Streaming.scala:BatchMarker"), token)
  }
}
