package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** S7/S8 — model registry replacing the reference's mutable `config.ini`
  * sections (/root/reference/src/train.py:163-171, preprocess.py:156-159).
  * The reference rewrites a shared INI from concurrent request handlers
  * (a documented race, SURVEY §2.12); this is an append-only JSONL file —
  * each line one immutable entry, last entry per name wins.
  */
final case class ModelEntry(
    name: String,
    path: String,
    modelType: String,
    params: Map[String, String],
    metrics: Map[String, Double],
    createdAtMs: Long)

class ModelRegistry(registryPath: String) {

  private val mapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  def append(entry: ModelEntry): Unit = synchronized {
    val p = Paths.get(registryPath)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p,
      (mapper.writeValueAsString(entry) + "\n")
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** All entries in append order. Shares the append lock, so a reader of
    * this instance never sees a half-written line.
    */
  def entries(): Seq[ModelEntry] = synchronized {
    val p = Paths.get(registryPath)
    if (!Files.exists(p)) Seq.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty)
      .map(l => mapper.readValue(l, classOf[ModelEntry]))
  }

  /** Latest entry for a model name (last write wins). */
  def latest(name: String): Option[ModelEntry] =
    entries().filter(_.name == name).lastOption
}
