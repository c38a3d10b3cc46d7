package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** SCOPE.md, the scope ledger, stays in step with the code: the gates it
  * names above "Retired" are exactly the registered gates, its
  * "Registered gates: N." line counts them, every unit file
  * under the ledger directories has exactly one ledger row whose Lines
  * column is the file's line count, every caller an anchor names is a
  * live file, no "retire later" unit is called by a "keep" unit or the
  * serving path, and a retired row names a file that is gone. Adding,
  * removing, resizing or retiring a gate or a unit without a ledger edit
  * fails here.
  *
  * Two checks cover all of `src/main`: a file that no other `src/main`
  * file names needs a ledger row that says why it stays (an entry point
  * or a paper anchor), and a public `def` or `val` that `src/main` names
  * only once (at its definition) needs an entry in [[definedOnce]].
  */
class ScopeLedgerSpec extends AnyFunSuite {

  private val ledger = Files.readString(Paths.get("SCOPE.md"))
  private val (live, retired) = ledger.indexOf("\n## Retired") match {
    case -1 => (ledger, "")
    case i => ledger.splitAt(i)
  }
  private val unitDirs = Seq("operators", "streaming", "sources", "sinks", "functions", "plans")
  private val unitRow =
    """(?m)^\| `((?:operators|streaming|sources|sinks|functions|plans|queries)/\w+\.scala)` \|(.*)$""".r
  private val main = "src/main/scala/graft"

  /** Every `src/main` Scala file with its text, keyed as SCOPE.md writes
    * it: relative to `graft/`, or to `scala/` for the bridge package. */
  private lazy val mainText: Map[String, String] = {
    val walk = Files.walk(Paths.get("src/main"))
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.map { p: Path =>
      p.toString.stripPrefix(s"$main/").stripPrefix("src/main/scala/") -> Files.readString(p)
    }.toMap
  }

  /** Public names that `src/main` mentions only where it defines them,
    * each with the reason it stays. A name missing here fails the scan,
    * and so does an entry whose name is no longer defined once. */
  private val definedOnce: Map[String, String] = Map(
    "advanceGroupForTest" -> "test hook: FunnelEquivalenceSpec drives StreamingFunnel's per-user step directly",
    "beatNow" -> "test hook: the topology specs heartbeat a registration on demand instead of waiting",
    "enableJobType" -> "test hook: JobSchedulerSpec switches a job type off and on (the reference scheduler's job toggle)",
    "upsertStream" -> "test hook: KafkaShapedIngestSpec runs the Kafka-shaped upsert stream, which no server starts (ROADMAP item 8)")

  test("the ledger's gate count is the number of registered gates") {
    val counted = """(?m)^Registered gates: (\d+)\.$""".r.findFirstMatchIn(live).map(_.group(1).toInt)
    assert(counted.contains(SparkEntry.all.size),
      s"SCOPE.md says 'Registered gates: ${counted.getOrElse("?")}.', SparkEntry.all has ${SparkEntry.all.size}")
  }

  test("the ledger names exactly the registered gates") {
    val named = """`(q_[a-z0-9_]+)`""".r.findAllMatchIn(live).map(_.group(1)).toSet
    val registered = SparkEntry.all.map(_.name).toSet
    assert((registered -- named).isEmpty,
      s"registered gates missing from SCOPE.md: ${(registered -- named).toSeq.sorted}")
    assert((named -- registered).isEmpty,
      s"SCOPE.md names unregistered gates: ${(named -- registered).toSeq.sorted}")
  }

  test("every unit file has exactly one ledger row") {
    val rows = unitRow.findAllMatchIn(live).map(_.group(1))
      .filterNot(_.startsWith("queries/")).toSeq
    val files = unitDirs.flatMap { d =>
      Option(new File(s"$main/$d").list()).toSeq.flatten
        .filter(_.endsWith(".scala")).map(f => s"$d/$f")
    }
    assert(rows.diff(rows.distinct).isEmpty, s"duplicate rows: ${rows.diff(rows.distinct)}")
    assert(files.toSet -- rows == Set.empty, s"files with no row: ${(files.toSet -- rows).toSeq.sorted}")
    assert(rows.toSet -- files == Set.empty, s"rows with no file: ${(rows.toSet -- files).toSeq.sorted}")
  }

  test("every live row's Lines column is the file's line count") {
    // a row's cells after the unit: anchor | gates | lines | specs | status
    val wrong = unitRow.findAllMatchIn(live)
      .filterNot(_.group(1).startsWith("queries/"))
      .flatMap { m =>
        val lines = m.group(2).split('|').map(_.trim).lift(2).getOrElse("")
        val actual = Files.readAllLines(Paths.get(s"$main/${m.group(1)}")).size
        if (lines == actual.toString) None else Some(s"${m.group(1)}: $lines, file has $actual")
      }.toSeq
    assert(wrong.isEmpty, s"Lines column out of date: ${wrong.mkString("; ")}")
  }

  test("every caller an anchor names is a live file, and no retire-later unit has a keep caller") {
    // a row's cells after the unit: anchor | gates | lines | specs | status;
    // callers are the backticked names in the anchor's "called by" clause
    val calledBy = """called by ([^;]*)""".r
    val rows = unitRow.findAllMatchIn(live)
      .filterNot(_.group(1).startsWith("queries/"))
      .map { m =>
        val cells = m.group(2).split('|').map(_.trim)
        val callers = calledBy.findFirstMatchIn(cells(0)).toSeq
          .flatMap(c => """`([\w/]+)`""".r.findAllMatchIn(c.group(1)).map(_.group(1)))
        (m.group(1).stripSuffix(".scala"), callers, cells.lift(4).getOrElse(""))
      }.toSeq
    val stale = rows.flatMap { case (unit, callers, _) =>
      callers.filterNot(c => new File(s"$main/$c.scala").exists).map(c => s"$unit <- $c")
    }
    assert(stale.isEmpty, s"anchors name callers with no file: ${stale.mkString("; ")}")
    val kept = rows.collect { case (unit, _, "keep") => unit }.toSet
    val servingPath = Seq("api/", "exec/", "aql/", "ingest/")
    val wrong = rows.flatMap {
      case (unit, callers, "retire later") =>
        callers.filter(c => kept(c) || servingPath.exists(c.startsWith)).map(c => s"$unit <- $c")
      case _ => Nil
    }
    assert(wrong.isEmpty, s"retire-later units called by a keep unit: ${wrong.mkString("; ")}")
  }

  test("a retired unit's file is gone") {
    val left = unitRow.findAllMatchIn(retired).map(_.group(1))
      .filter(u => new File(s"$main/$u").exists).toSeq
    assert(left.isEmpty, s"retired units still in the tree: $left")
  }

  test("every src/main file that no other src/main file names has a ledger row that says why") {
    val unnamed = mainText.keySet.filterNot { f =>
      val name = ("\\b" + f.split('/').last.stripSuffix(".scala") + "\\b").r
      mainText.exists { case (g, text) => g != f && name.findFirstIn(text).isDefined }
    }
    val units = unitRow.findAllMatchIn(live).map(_.group(1)).toSet
    val section = live.indexOf("\n## Files that no other") match {
      case -1 => ""
      case i => live.substring(i + 1).split("\n## ").head
    }
    val rows = """(?m)^\| `([\w/]+\.scala)` \| ([^|]*) \|$""".r.findAllMatchIn(section)
      .map(m => m.group(1) -> m.group(2).trim).toMap
    val missing = unnamed -- units -- rows.keySet
    assert(missing.isEmpty, s"files no other src/main file names, with no ledger row: ${missing.toSeq.sorted}")
    val stale = rows.keySet -- unnamed
    assert(stale.isEmpty, s"rows for files another src/main file names: ${stale.toSeq.sorted}")
    val noReason = rows.collect {
      case (f, why) if !why.startsWith("entry point") && !why.contains("SURVEY §") => f
    }
    assert(noReason.isEmpty, s"rows that name neither an entry point nor a paper anchor: ${noReason.toSeq.sorted}")
  }

  test("a public def or val that src/main names only once is allowlisted with its reason") {
    val words = mainText.values.flatMap("""\w+""".r.findAllIn(_))
      .toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    // public names only, members and locals alike; an override is named by
    // what it overrides, and a package-qualified private[x] counts as
    // public because specs reach it
    val decl = """(?m)^\s*((?:(?:final|lazy|implicit|override|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)(?:def|val)\s+([A-Za-z_]\w*)""".r
    val hidden = """\b(private(?!\[)|protected|override)\b""".r
    val once = mainText.toSeq.flatMap { case (f, text) =>
      decl.findAllMatchIn(text).collect {
        case m if hidden.findFirstIn(m.group(1)).isEmpty && words(m.group(2)) == 1 => m.group(2) -> f
      }
    }.toMap
    val unlisted = once.keySet -- definedOnce.keySet
    assert(unlisted.isEmpty,
      s"public names src/main uses only at their definition: ${unlisted.toSeq.sorted.map(n => s"$n (${once(n)})")}")
    val stale = definedOnce.keySet -- once.keySet
    assert(stale.isEmpty, s"allowlisted names that are no longer defined once: ${stale.toSeq.sorted}")
  }
}
