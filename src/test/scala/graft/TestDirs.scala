package graft

/** Temp dirs for specs, created under this JVM's [[Scratch.root]]: the
  * root is deleted when the JVM exits and a killed JVM's root is swept
  * by the next JVM, so no spec leaves its dirs in the system temp dir. */
object TestDirs {
  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(Scratch.root), prefix).toString
}
