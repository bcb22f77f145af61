package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.lake.LakeTable

/** What the benchmark reads straight from the table directories: files and
  * sizes, commit-log version counts and the latest manifests' bucket layout.
  */
object TableDir {
  private val mapper = new ObjectMapper()
  private val VersionFile = "v\\d{8}\\.json"

  private def children(dir: Path): List[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.toList finally ls.close()
  }

  /** Every regular file under `dir` with its size. */
  def files(dir: String): Map[String, Long] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) Map.empty
    else {
      val st = Files.walk(d)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }
  }

  private def versions(log: Path): List[String] =
    children(log).map(_.getFileName.toString).filter(_.matches(VersionFile)).sorted

  /** Per commit log under `root` (one per table, or per partition of a
    * partitioned table): its version count and the latest manifest's bucket
    * layout (bucket -> base dir and delta stack).
    */
  def commitLogs(root: String): Map[String, (Int, Map[String, String])] = {
    val d = Paths.get(root)
    if (!Files.exists(d)) return Map.empty
    val st = Files.walk(d)
    val logs = try st.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString == LakeTable.CommitsDirName).toList
    finally st.close()
    logs.map { log =>
      val vs = versions(log)
      val layout = vs.lastOption.map { v =>
        val m = mapper.readTree(log.resolve(v).toFile)
        val bs = m.path("buckets").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        val ds = m.path("deltas").fields().asScala.map(e => e.getKey -> e.getValue.toString).toMap
        (bs.keySet ++ ds.keySet).map(b => b -> (bs.getOrElse(b, "") + "|" + ds.getOrElse(b, ""))).toMap
      }.getOrElse(Map.empty)
      log.toString -> ((vs.size, layout))
    }.toMap
  }

  /** Parquet data files the latest manifest of the table at `path` references. */
  def liveDataFiles(path: String): Int = {
    val log = Paths.get(path, LakeTable.CommitsDirName)
    val m = mapper.readTree(log.resolve(versions(log).last).toFile)
    val dirs = m.path("buckets").elements().asScala.map(_.asText()).toSeq ++
      m.path("deltas").elements().asScala.flatMap(_.elements().asScala.map(_.asText())).toSeq
    dirs.map(rel => Paths.get(path, rel)).filter(Files.isDirectory(_))
      .map(d => children(d).count(_.getFileName.toString.endsWith(".parquet"))).sum
  }
}
