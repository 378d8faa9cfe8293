package graft

/** Driver-contract smoke tests. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Queries deliberately shipped without an oracle (driver falls back to
    * the weaker rows-only check): engine-specific sketch estimates.
    */
  private val rowsOnlyQueries = Set("q60_approx_distinct", "q63_approx_percentile")

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    assert((q -- rowsOnlyQueries).subsetOf(o),
      s"queries unexpectedly missing oracles: ${q -- o -- rowsOnlyQueries}")
  }

  test("the program's only entry points are Bench, Verify, RunQuery and " +
       "GenFixtures") {
    // an entry point is an object with a `main` method or an `App` body;
    // each main file is attributed to the last object declared above it
    val objectDecl =
      raw"(?m)^[ \t]*(?:(?:private|protected|final|case)(?:\[\w+\])?\s+)*object\s+(\w+)".r
    val entryMark = raw"\bdef\s+main\s*\(|\bextends\s+App\b".r
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no main sources under ${root.getAbsolutePath}")
    val entries = scalaFiles(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val pkg = raw"(?m)^package\s+([\w.]+)".r.findFirstMatchIn(src)
        .map(_.group(1) + ".").getOrElse("")
      entryMark.findAllMatchIn(src).map { m =>
        pkg + objectDecl.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse(f.getName)
      }
    }.toSet
    assert(entries ==
      Set("graft.Bench", "graft.Verify", "graft.RunQuery", "graft.GenFixtures"),
      s"entry points under src/main/scala: ${entries.toSeq.sorted}")
  }

  test("all queries execute on sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
