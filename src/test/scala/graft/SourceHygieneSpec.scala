package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Control-byte lint over the source tree.
  *
  * A raw control byte (NUL in particular) inside a .scala file makes
  * grep/ripgrep classify the file as BINARY and silently skip it in
  * every source search — the file becomes invisible to audits while
  * still compiling fine. This defect class shipped twice (KernelCache
  * r15, AutoSaltRule r16: a `"\\u0000<null>"` sentinel written as the
  * raw byte instead of the escape), so it is now a red test, not a
  * review convention: any byte below 0x09 (i.e. anything but TAB, LF,
  * CR and printable text) in any tracked .scala file fails the suite.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) Seq.empty
    else Files.walk(base).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .toSeq
  }

  test("no control bytes below 0x09 in any src/**/*.scala") {
    val offenders = for {
      root <- Seq("src/main", "src/test")
      file <- scalaFiles(root)
      bytes = Files.readAllBytes(file)
      idx = bytes.indexWhere(b => b >= 0 && b < 0x09)
      if idx >= 0
    } yield s"$file: byte 0x${"%02x".format(bytes(idx))} at offset $idx"
    assert(offenders.isEmpty,
      s"raw control bytes make files grep-invisible:\n${offenders.mkString("\n")}")
  }

  /** Every `spark.graft.*` key the library reads. A new knob is a new
    * physical path to keep tested, so adding one means adding it here and
    * to USAGE.md, where review sees it. */
  private val knobs = Set(
    "spark.graft.broadcastMaxRows",
    "spark.graft.cc.localMaxEdges",
    "spark.graft.fanout.minRows",
    "spark.graft.partition.count",
    "spark.graft.reconnect.backoffMillis",
    "spark.graft.reconnect.maxTries")

  test("spark.graft knob inventory: src/main literals equal the allowlist, all in USAGE.md") {
    val literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])".r
    val found = (for {
      file <- scalaFiles("src/main")
      m <- literal.findAllMatchIn(new String(Files.readAllBytes(file), "UTF-8"))
    } yield m.group(1)).toSet
    assert(found.nonEmpty, "no spark.graft literals found: is the walk rooted right?")
    assert(found -- knobs == Set.empty, "knobs missing from the allowlist")
    assert(knobs -- found == Set.empty, "allowlisted knobs no longer in src/main")
    val usage = new String(Files.readAllBytes(Paths.get("USAGE.md")), "UTF-8")
    // equal, not a superset: USAGE.md can neither miss a knob nor
    // describe one the library no longer reads
    val documented = "spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_]".r
      .findAllIn(usage).toSet
    assert(documented == knobs, "USAGE.md knob names differ from the allowlist")
  }

  /** Source text without `/* */` and `//` comments. */
  private def code(file: Path): String =
    new String(Files.readAllBytes(file), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("streaming operators use the shared micro-batch layout and rounding, no private copies") {
    val streaming = scalaFiles("src/main/scala/graft/streaming")
    // the snapshot (`v=<id>`) and per-batch sink (`batch=<id>`) layouts
    val layout = "[/\"](v|batch)=".r
    val layoutOwners = streaming.filter(f => layout.findFirstIn(code(f)).nonEmpty)
      .map(_.getFileName.toString)
    assert(layoutOwners == Seq("MicroBatch.scala"),
      s"batch-keyed layout literals outside MicroBatch: $layoutOwners")
    for (name <- Seq("round6", "toCents")) {
      val defs = scalaFiles("src/main")
        .flatMap(f => s"def $name\\b".r.findAllIn(code(f)).map(_ => f))
      assert(defs.size == 1, s"def $name is defined ${defs.size} times: ${defs.mkString(", ")}")
    }
  }

  test("streaming operators write files only through MicroBatch") {
    // MicroBatch.write is the writer that carries the fork-free local
    // filesystem; a DataFrame `.write` elsewhere would bypass it
    val writers = scalaFiles("src/main/scala/graft/streaming")
      .filter(f => "(?<!MicroBatch)\\.write\\b".r.findFirstIn(code(f)).nonEmpty)
      .map(_.getFileName.toString)
    assert(writers == Seq("MicroBatch.scala"), s"streaming files with .write: $writers")
  }

  test("only api/Caches.scala persists or unpersists a frame") {
    // Caches.persist / materialize / dropTransient are the library's cache
    // calls; a direct one elsewhere skips scope release or the sweeper
    val cacheCall = "(?<!Caches)\\.persist\\(|\\.cache\\(\\)|\\.unpersist\\(|Caches\\.tracked".r
    val callers = scalaFiles("src/main")
      .filterNot(_.endsWith(Paths.get("api", "Caches.scala")))
      .filter(f => cacheCall.findFirstIn(code(f)).nonEmpty)
      .map(_.toString).sorted
    assert(callers.isEmpty,
      s"${callers.size} files cache frames outside Caches:\n${callers.mkString("\n")}")
  }

  test("lint detects a planted NUL (self-check)") {
    // The lint predicate itself, applied to a buffer with a raw NUL —
    // guards against the check rotting into an always-green walk.
    val planted = "val k = \"".getBytes("UTF-8") ++ Array[Byte](0x00) ++ "<null>\"".getBytes("UTF-8")
    assert(planted.indexWhere(b => b >= 0 && b < 0x09) >= 0)
  }
}
