package graftbench

import java.nio.file.{Files => JFiles, Paths}

import scala.jdk.CollectionConverters._

/** Golden digests, recorded once from a known-good commit and checked on
  * every run. The file holds one `section<TAB>name<TAB>digest` line per
  * value; a section names the input, e.g. `queries/sf0.01`. Digests do
  * not depend on the seed: the seed only splits the same rows into files.
  */
object Golden {

  def key(data: String): String = Paths.get(data).getFileName.toString

  def load(path: String): Map[String, Map[String, String]] = {
    val p = Paths.get(path)
    if (!JFiles.exists(p)) Map.empty
    else JFiles.readAllLines(p).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", 3))
      .collect { case Array(s, n, v) => (s, n, v) }
      .groupBy(_._1).map { case (s, vs) => s -> vs.map(v => v._2 -> v._3).toMap }
  }

  /** Replaces one section of the file with `values`. */
  def record(path: String, section: String, values: Seq[(String, String)]): Unit = {
    val kept = load(path) - section
    val all = (kept + (section -> values.toMap)).toSeq.sortBy(_._1)
    val lines = "# section\tname\tdigest (perfbench/run.py --record-golden)" +:
      all.flatMap { case (s, vs) => vs.toSeq.sortBy(_._1).map { case (n, v) => s"$s\t$n\t$v" } }
    JFiles.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
