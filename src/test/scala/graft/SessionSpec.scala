package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `core.Session.local` is the one session builder: it pins the settings
  * the oracle outputs depend on, and no other source file builds its own. */
class SessionSpec extends SparkSpec {

  test("Session.local pins partitions, UTC clock and a disabled UI") {
    val s = graft.core.Session.local(4)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("no source file but core/Session.scala calls the session builder") {
    val call = """SparkSession\.builder\(\)""".r
    def scalaFiles(root: String): Seq[Path] = {
      val st = Files.walk(Paths.get(root))
      try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    }
    val offenders = for {
      f <- scalaFiles("src/main") ++ scalaFiles("src/test")
      if !f.endsWith(Paths.get("graft/core/Session.scala"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
      // the GraftExtensions scaladoc shows users how to register it
      if !(f.endsWith("GraftExtensions.scala") && line.trim.startsWith("*"))
    } yield s"$f:${i + 1}"
    assert(offenders.isEmpty,
      s"build sessions through graft.core.Session.local: $offenders")
  }
}
