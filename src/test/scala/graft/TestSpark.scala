package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run — built through
  * GraftSession so tests exercise the SAME config (AQE, UTC,
  * nanosAsLong, GraftExtensions) as Verify/Bench physical plans.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** Temp dir scoped to `f`, recursively deleted in finally — specs
    * that rewrite whole tables must not leak per-run disk in the
    * shared session. */
  def withTmpDir[A](name: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name")
    try f(dir.toString)
    finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
