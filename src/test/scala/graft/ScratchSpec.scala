package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Holds an exclusive lock on `args(0)` in its own JVM until its stdin
  * closes — a live scratch root as another process sees it. */
object ScratchLockHolder {
  def main(args: Array[String]): Unit = {
    val l = Scratch.lock(Paths.get(args(0)))
    println("locked")
    System.out.flush()
    scala.io.StdIn.readLine()
    l.release()
  }
}

class ScratchSpec extends AnyFunSuite {

  private def root(base: Path, name: String): Path = {
    val d = Files.createDirectories(base.resolve(name))
    Files.createFile(d.resolve(".lock"))
    Files.writeString(d.resolve("chunk"), "x")
    d
  }

  test("sweep deletes a stale unlocked sibling root and keeps a root " +
      "another live process holds locked") {
    val base = Files.createTempDirectory("graft_scratch_spec")
    try {
      val stale = root(base, "graft-scratch-stale")
      val live = root(base, "graft-scratch-live")
      val other = Files.createDirectories(base.resolve("not-a-root"))
      val jvm = Paths.get(System.getProperty("java.home"), "bin", "java")
      val holder = new ProcessBuilder(jvm.toString, "-cp",
          System.getProperty("java.class.path"), "graft.ScratchLockHolder",
          live.resolve(".lock").toString)
        .redirectError(ProcessBuilder.Redirect.INHERIT).start()
      try {
        val out = new java.io.BufferedReader(
          new java.io.InputStreamReader(holder.getInputStream))
        assert(out.readLine() == "locked")
        Scratch.sweep(base)
        assert(!Files.exists(stale), "an unlocked root survived the sweep")
        assert(Files.exists(live.resolve("chunk")),
          "a root held by a live process was swept")
        assert(Files.exists(other), "a non-root sibling was swept")
      } finally {
        holder.getOutputStream.close()
        holder.waitFor()
      }
      // the holder exited, so its lock is gone with it
      Scratch.sweep(base)
      assert(!Files.exists(live), "a root whose holder exited survived")
    } finally Fs.deleteRecursively(base)
  }

  test("this process's root is locked, named as a root, and never swept " +
      "by its own process") {
    val r = Paths.get(Scratch.root)
    assert(r.getFileName.toString.startsWith("graft-scratch-"))
    assert(Files.exists(r.resolve(".lock")))
    Scratch.sweep(r.getParent)
    assert(Files.isDirectory(r))
  }

  test("an unusable explicit scratch override fails fast") {
    val f = Files.createTempFile("graft_scratch_spec", ".file")
    try {
      val e = intercept[IllegalArgumentException](
        Scratch.resolveBase(Some(f.resolve("sub").toString)))
      assert(e.getMessage.contains("not a writable directory"))
    } finally Files.deleteIfExists(f)
  }
}
