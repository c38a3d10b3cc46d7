package servebench

import java.nio.file.{Files, Path}

/** The input tables' calendar and value domains. The tables themselves
  * are written per (size, seed) by gen_inputs.py under the benchmark's
  * own cache and linked into each set-up's input directory, so every
  * archive the program builds from them belongs to the benchmark alone.
  */
object Inputs {
  /** Event time spans 30 UTC days starting here (2024-01-01). */
  val FirstDay: Long = 1704067200L
  val Days = 30
  val Users = 1500
  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  def dayEpoch(d: Int): Long = FirstDay + d * 86400L
  def dayString(d: Int): String = java.time.LocalDate.ofEpochDay(dayEpoch(d) / 86400L).toString

  /** A fresh input directory holding hard links to the cached tables. */
  def linkInto(cached: Path, target: Path): Path = {
    Seq("events.parquet", "customer.parquet").foreach { t =>
      val to = Files.createDirectories(target.resolve(t))
      Files.list(cached.resolve(t)).forEach { f =>
        Files.createLink(to.resolve(f.getFileName), f)
      }
    }
    target
  }

}
