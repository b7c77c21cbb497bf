package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.LinkedHashMap
import scala.jdk.CollectionConverters._

/** Records the fingerprint of every operation the workloads run, twice in
  * one JVM: the reference pipeline's steps over the pipeline corpus and the
  * given queries over the query corpus, each query Layer-cold. Writes one tab-separated line per operation: id, first
  * fingerprint, second fingerprint (`error` where it threw). Fails if a
  * query writes under the program's per-process scratch directory.
  */
object Record {
  def run(dir: String, pipelineDir: String, work: String, out: Path, names: Seq[String]): Unit = {
    val spark = Main.startSession(work, dir)
    val rec = new Recorder(spark, "record")
    val c = new Ctx(spark, dir, rec, Map.empty, recording = true)
    val p = new Ctx(spark, pipelineDir, rec, Map.empty, recording = true)
    val fps = LinkedHashMap[String, Seq[String]]()
    def keep(from: Ctx, ids: Iterable[String]): Unit = ids.foreach { id =>
      fps(id) = fps.getOrElse(id, Seq.empty) :+ from.observed.get(id).fold("error")(_.toString)
    }
    // The queries' own scratch root lies outside the benchmark's working
    // directory, so a query that writes there cannot be measured.
    val scratch = Paths.get(graft.RunScoped.ioDir)
    (1 to 2).foreach { _ =>
      p.observed.clear()
      Workloads.pipelinePass(p)
      keep(p, p.observed.keys.toSeq)
      c.observed.clear()
      names.foreach { n =>
        Workloads.coldPass(c, Seq(n), Map(n -> "record"))
        require(!Files.exists(scratch), s"$n writes under $scratch, outside the working directory")
      }
      keep(c, names)
    }
    Files.write(out, fps.toSeq.map { case (id, fs) => (id +: fs).mkString("\t") }.asJava)
    spark.stop()
  }
}
