package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Output fingerprints recorded for seed 0 (the default seed) at the
 * benchmark scale: vertex count / community count / label hash, and
 * the final WCC. Other seeds are checked for run-to-run agreement by
 * [[Agreement]]. */
object Recorded {
  private val values: Map[String, String] = Map(
    // dwcc_copurchase
    "bench/warmup-partition" -> "1466/340/1c558b6c1e5c084b",
    "bench/partition" -> "1466/340/1c558b6c1e5c084b",
    "bench/warmup-wcc" -> "0.2374239256499517",
    "bench/wcc" -> "0.2374239256499517",
    // idwcc_microbatch
    "bench/prepare" -> "1171/310/7bd70db94feb7cd3",
    "bench/batch" -> "1171/484/3c8b4b07d0ce18bb")

  def check(scale: String, seed: Long, key: String, value: String): Seq[String] =
    if (seed != 0L) Nil
    else values.get(s"$scale/$key").filter(_ != value)
      .map(exp => s"$key: got $value, recorded for seed 0: $exp").toSeq

  def checkClose(scale: String, seed: Long, key: String, value: Double): Seq[String] =
    if (seed != 0L) Nil
    else values.get(s"$scale/$key").map(_.toDouble).filter(!Ctx.close(_, value))
      .map(exp => s"$key: got $value, recorded for seed 0: $exp").toSeq
}

/**
 * Run-to-run agreement: every output fingerprint of a (workload,
 * scale, seed) is stored in a file under the benchmark's state
 * directory, and each later run of the same key must reproduce it.
 */
final class Agreement(file: Path) {
  private val earlier: Map[String, String] =
    if (Files.exists(file))
      Files.readAllLines(file, UTF_8).asScala.flatMap { l =>
        l.split("\t", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }.toMap
    else Map.empty
  private val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def check(key: String, value: String): Seq[String] = {
    seen.getOrElseUpdate(key, value)
    earlier.get(key).filter(_ != value)
      .map(exp => s"$key: got $value, an earlier run of this seed got $exp").toSeq
  }

  def checkClose(key: String, value: Double): Seq[String] = {
    seen.getOrElseUpdate(key, value.toString)
    earlier.get(key).map(_.toDouble).filter(!Ctx.close(_, value))
      .map(exp => s"$key: got $value, an earlier run of this seed got $exp").toSeq
  }

  /** store the keys first seen in this run (never overwrite) */
  def save(): Unit = {
    val merged = earlier ++ seen.filter { case (k, _) => !earlier.contains(k) }
    Files.createDirectories(file.getParent)
    Files.writeString(file, merged.toSeq.sorted.map { case (k, v) => s"$k\t$v\n" }.mkString)
  }
}
