package graftbench

import java.io.File

/** Local-filesystem helpers for the benchmark's own working directory. */
object Dirs {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles).iterator.flatMap(_.iterator).flatMap(walk)
    else if (f.exists) Iterator.single(f)
    else Iterator.empty

  def files(dir: File): Long = walk(dir).size.toLong
  def bytes(dir: File): Long = walk(dir).map(_.length).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
