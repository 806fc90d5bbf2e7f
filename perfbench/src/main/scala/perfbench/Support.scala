package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest
import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harness's JSON reader and writer: Jackson with its Scala module,
  * both shipped with Spark. */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
  def render(v: Any): String = mapper.writeValueAsString(v)
}

/** Expected output digests per seed, in `perfbench/goldens/<workload>.json`
  * as `{"<seed>": {"<output>": "<digest>"}}`. */
object Goldens {
  private def file(root: File, workload: String) =
    new File(root, s"perfbench/goldens/$workload.json")

  private def read(root: File, workload: String): Map[String, Map[String, String]] = {
    val f = file(root, workload)
    if (!f.isFile) Map.empty
    else {
      val tree = Json.mapper.readTree(f)
      tree.fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala.map(x => x.getKey -> x.getValue.asText()).toMap
      }.toMap
    }
  }

  def load(root: File, workload: String, seed: Long): Map[String, String] =
    read(root, workload).getOrElse(seed.toString, Map.empty)

  def record(root: File, workload: String, seed: Long, outputs: Seq[(String, String)]): Unit = {
    val all = read(root, workload) + (seed.toString -> outputs.toMap)
    val f = file(root, workload)
    f.getParentFile.mkdirs()
    val sorted = ListMap(all.toSeq.sortBy(_._1.toLong).map { case (s, outs) =>
      s -> TreeMap(outs.toSeq: _*) }: _*)
    Files.writeString(f.toPath,
      Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(sorted) + "\n")
  }
}

/** Where a run's numbers came from. */
object Provenance {
  private def md5(bytes: Array[Byte]*): String = {
    val m = MessageDigest.getInstance("MD5")
    bytes.foreach(m.update)
    m.digest().map("%02x".format(_)).mkString
  }

  /** md5 of each generated input: a TSV file, or the data files of a
    * parquet table directory taken in name order (their names carry a
    * random id, their bytes do not). */
  def fixtureMd5s(dir: File): Seq[(String, Long, String)] =
    Seq("raw", "star").map(new File(dir, _)).filter(_.isDirectory).flatMap { sub =>
      sub.listFiles().toSeq.sortBy(_.getName).map { f =>
        val parts =
          if (f.isDirectory) f.listFiles().toSeq.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          else Seq(f)
        (s"${sub.getName}/${f.getName}", parts.map(_.length()).sum,
          md5(parts.map(p => Files.readAllBytes(p.toPath)): _*))
      }
    }

  private def sourceMd5(root: File): String = {
    val files = Seq("src/main", "perfbench/src/main").map(new File(root, _)).filter(_.isDirectory)
      .flatMap(d => Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_)).toSeq)
      .sortBy(p => root.toPath.relativize(p).toString)
    md5(files.flatMap(p => Seq(root.toPath.relativize(p).toString.getBytes, Files.readAllBytes(p))): _*)
  }

  /** The commit of a git checkout; a plain source tree (or one nested in
    * another repository) has none. */
  private def gitCommit(root: File): Option[String] =
    if (!new File(root, ".git").exists()) None
    else scala.util.Try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").directory(root)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) Some(out) else None
    }.toOption.flatten

  def of(root: File, conf: Seq[(String, String)], fixtures: Seq[(String, Long, String)],
         probesMs: Seq[Double]): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "session_conf" -> conf.toMap,
    "fixtures" -> fixtures.map { case (n, size, m) => Map("file" -> n, "bytes" -> size, "md5" -> m) },
    "fixtures_digest" -> md5(fixtures.map { case (n, _, m) => s"$n:$m" }.mkString("|").getBytes),
    "git_commit" -> gitCommit(root),
    "source_md5" -> sourceMd5(root),
    "java" -> System.getProperty("java.version"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "host.probe_ms" -> probesMs,
    // a busy host slows the fixed probe; start and end probes more than
    // 1.3x apart mark the run
    "contended" -> (probesMs.max > 1.3 * probesMs.min))
}
