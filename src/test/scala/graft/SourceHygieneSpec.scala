package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Machine-locks source-level contracts that audits discovered the hard
  * way — each rule here is a regression a grep once caught in a LIVE
  * round and would silently reappear without a failing test:
  *
  *  - every lineage truncation routes through Par.materialize (the one
  *    deployment dial for local-vs-reliable checkpointing) — a direct
  *    `.localCheckpoint(` call elsewhere silently opts out of the
  *    reliable path and reintroduces the lost-executor failure mode;
  *  - every driver-vs-distributed size decision routes through Par.gate
  *    (one conf namespace, one size arithmetic, one decision record) —
  *    a hand-rolled conf read elsewhere is a gate nobody can see;
  *  - every session cache is a Memo.scala memo (one key, one stats
  *    row, one invalidateAll) and no operator branches on where
  *    snapshots live — a hand-rolled LRU elsewhere is a cache the
  *    bench, the publish path and the key rules cannot see;
  *  - no raw control bytes in source: grep classifies such a file as
  *    BINARY and every text-based audit sweep (leak checks included)
  *    silently skips it (found live: a NUL literal in Excel.scala);
  *  - no Scala UDFs (`udf(`), no `???` stubs, no TODO/FIXME — the
  *    codegen-or-native rule and the no-padding rule, kept hard;
  *  - every public def is named by main or perfbench source besides its
  *    own definition — a def only specs call is code no entry point
  *    runs (spec reference kernels are `private[graft]`).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def sourcesUnder(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  private def mainSources: Seq[Path] = sourcesUnder("src/main/scala")

  test("no direct localCheckpoint outside Par.materialize") {
    val offenders = mainSources.filterNot(_.endsWith("Par.scala"))
      .filter(p => Files.readString(p).contains(".localCheckpoint("))
    assert(offenders.isEmpty,
      s"route lineage truncation through Par.materialize: $offenders")
  }

  test("size gates: only Par.gate reads spark.graft.gate.* confs, and " +
       "the retired per-site gate keys are gone") {
    // a read is `.get(` / `.getOption(` with a literal or interpolated
    // key — doc strings may still name a key
    val read = """\.(get|getOption)\(\s*s?"spark\.graft\.gate\.""".r
    val reads = for {
      p <- mainSources.filterNot(_.endsWith("Par.scala"))
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if read.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}"
    assert(reads.isEmpty, s"decide through Par.gate: $reads")
    val retired = for {
      p <- mainSources
      text = Files.readString(p)
      // spelled in parts so a repo-wide grep for the names stays empty:
      // the old per-site gate keys, the three size-threshold parameters
      // that bypassed Par.gate, and the test-only BPE trainer
      name <- Seq("driver", "pairDriver", "singleTask").map(_ + "Gate") ++
        Seq("WalkMaxRows", "MaxPairs", "VocabThreshold").map("local" + _) :+
        ("train" + "Distributed")
      if text.contains(name)
    } yield s"$p: $name"
    assert(retired.isEmpty, s"retired gate names in main source: $retired")
  }

  test("one session-memo facility: outside Memo.scala no main source " +
       "defines an LRU, and only PartFiles reads snapshot placement") {
    def hits(files: Seq[Path], pats: String*): Seq[String] = for {
      p <- files
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if pats.exists(l.contains)
    } yield s"$p:${i + 1}"
    val outside = mainSources.filterNot(_.endsWith("Memo.scala"))
    val bad = hits(outside, "removeEldestEntry") ++
      hits(outside.filterNot(_.endsWith("PartFiles.scala")),
        "snapshotsActive", "resolveRootUri")
    assert(bad.isEmpty, "cache through a FrameMemo or ValueMemo, whose " +
      s"results are safe to read repeatedly wherever snapshots live: $bad")
  }

  test("no raw control bytes in main source (audit sweeps must see " +
       "every file as text)") {
    val offenders = mainSources.filter { p =>
      // mask to unsigned: UTF-8 continuation bytes are NEGATIVE as JVM
      // bytes and must not read as control characters
      Files.readAllBytes(p).exists { b =>
        val ub = b & 0xff
        ub < 32 && ub != '\n' && ub != '\t' && ub != '\r'
      }
    }
    assert(offenders.isEmpty,
      s"escape control chars as \\uXXXX: $offenders")
  }

  test("no Scala UDFs, stubs, or TODO markers in main source") {
    val bad = for {
      p <- mainSources
      text = Files.readString(p)
      pat <- Seq("udf(", "???", "TODO", "FIXME")
      // allow the literal strings inside this spec's own patterns and
      // doc mentions like "no udf(" — require the pattern OUTSIDE a
      // comment-looking line for the call forms
      if text.linesIterator.exists { l =>
        val t = l.trim
        t.contains(pat) && !t.startsWith("//") && !t.startsWith("*") &&
          !t.startsWith("/*")
      }
    } yield s"$p: $pat"
    assert(bad.isEmpty, s"banned markers in main source: $bad")
  }

  test("census: every public def in src/main is named in src/main or " +
       "perfbench/src outside its own definition, comments and strings") {
    val q3 = "\"" * 3
    // one left-to-right scan over comments, char literals and string
    // literals; a string keeps only its interpolated names
    val lexeme = ("(?s)/\\*.*?\\*/|//[^\\n]*|'(?:\\\\[^']*|[^'\\\\\\n])'|" +
      q3 + ".*?" + q3 + "|\"(?:\\\\.|[^\"\\\\\\n])*\"").r
    val interp = """\$\{([^}]*)\}|\$(\w+)""".r
    def code(p: Path): String = lexeme.replaceAllIn(Files.readString(p), m =>
      java.util.regex.Matcher.quoteReplacement(
        if (!m.matched.startsWith("\"")) " "
        else interp.findAllMatchIn(m.matched)
          .map(i => Option(i.group(1)).getOrElse(i.group(2)))
          .mkString(" ", " ", " ")))
    def counts(it: Iterator[String]): Map[String, Int] =
      it.toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    val texts = (mainSources ++ sourcesUnder("perfbench/src"))
      .map(p => p -> code(p))
    val all = texts.map(_._2).mkString("\n")
    val named = counts("""[A-Za-z_]\w*""".r.findAllIn(all))
    val defined = counts("""(?<![\w$])def\s+([A-Za-z_]\w*)""".r
      .findAllMatchIn(all).map(_.group(1)))
    val defLine = ("""(?m)^[ \t]*((?:(?:private|protected)(?:\[\w+\])?\s+|""" +
      """override\s+|final\s+|implicit\s+|@\w+\s+)*)def\s+([A-Za-z_]\w*)""").r
    val uncalled = for {
      (p, text) <- texts if p.startsWith("src")
      m <- defLine.findAllMatchIn(text)
      if """\b(private|protected|override)\b""".r.findFirstIn(m.group(1)).isEmpty
      name = m.group(2)
      if name != "main" && named(name) <= defined(name)
    } yield (p.getFileName.toString, name)
    assert(uncalled.isEmpty, "public defs that no entry-point source " +
      "names — delete them or narrow a spec reference kernel to " +
      s"private[graft]: ${uncalled.mkString(", ")}")
  }
}
