package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.{Files, Paths}

/** SCOPE.md, the scope ledger, stays in step with the code: the gates it
  * names above "Retired" are exactly the registered gates, every unit file
  * under the ledger directories has exactly one ledger row whose Lines
  * column is the file's line count, every caller an anchor names is a
  * live file, no "retire later" unit is called by a "keep" unit or the
  * serving path, and a retired row names a file that is gone. Adding,
  * removing, resizing or retiring a gate or a unit without a ledger edit
  * fails here.
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
}
