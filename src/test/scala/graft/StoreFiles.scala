package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.psn.TableStore

/** What a spec reads of a store table's files on disk. */
object StoreFiles {
  private def walk(root: Path): Set[Path] =
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_ != root).toSet finally s.close()
    }

  /** The data files the head of `t` names. */
  def head(store: TableStore, t: String): Set[Path] =
    store.namedFiles(t, store.headVersion(t))._1.toSet

  /** The deletion-vector files the head of `t` names. */
  def headDv(store: TableStore, t: String): Set[Path] =
    store.namedFiles(t, store.headVersion(t))._2.toSet

  /** Every data file under the root of `t`: bookkeeping (markers,
    * manifests, deletion vectors, `_SUCCESS`, checksums) aside. */
  def onDisk(wh: String, t: String): Set[Path] = {
    val root = Paths.get(wh, t)
    walk(root).filter { f =>
      Files.isRegularFile(f) && root.relativize(f).iterator.asScala
        .forall(seg => !seg.toString.startsWith("_") && !seg.toString.startsWith("."))
    }
  }

  /** Every path, files and directories, under the root of `t`. */
  def paths(wh: String, t: String): Set[Path] = walk(Paths.get(wh, t))
}
