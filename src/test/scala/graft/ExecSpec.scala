package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `core.Exec.materialize` has two arms, picked by the session's
  * checkpoint dir: local checkpoints without one, reliable checkpoints
  * under it. Both must give the same rows. */
class ExecSpec extends SparkSpec {

  test("a set checkpoint dir makes every cut reliable, with the same rows") {
    // a fixpoint row (label loop over the stored edges) and a fill
    // request (Downsample.withFill's cut inside the wire pipeline)
    val names = Seq("graph_components", "tsdb_query_wire_fill")
    def rows(n: String) = SparkEntry.queries(n)(spark, sf).collect().toSeq
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "the suites run without a checkpoint dir")
    val local = names.map(rows)
    val dir = Files.createTempDirectory("graft_ckpt_")
    def files(): List[Path] = {
      val st = Files.walk(dir)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }
    sc.setCheckpointDir(dir.toString)
    try {
      for ((n, want) <- names.zip(local)) {
        val before = files().size
        val got = rows(n)
        assert(got == want, s"$n: reliable-checkpoint rows differ from local ones")
        assert(files().size > before, s"$n wrote no checkpoint files under $dir")
      }
    } finally {
      org.apache.spark.GraftCheckpointDir.clear(sc)
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally st.close()
    }
    assert(sc.getCheckpointDir.isEmpty)
  }
}
