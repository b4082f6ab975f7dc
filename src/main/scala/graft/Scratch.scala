package graft

import java.nio.file.{Files, Path, Paths}

/** Where the query drivers, the bench and the tools write besides their
  * declared outputs.
  *  - [[dir]]: a per-query scratch table under one temp root per JVM
  *    (below `java.io.tmpdir`), deleted when the JVM exits. Two runs, from
  *    one checkout or two, never share or overwrite a scratch table.
  *  - [[cache]]: a persistent bench cache (generated input tables, results
  *    one JVM leaves for the next) under `target/bench` of the working
  *    directory, so each checkout keeps its own.
  */
object Scratch {

  private lazy val root: Path = {
    val d = Files.createTempDirectory("graft-scratch-")
    sys.addShutdownHook(Bench.deleteDir(d.toString))
    d
  }

  def dir(name: String): String = root.resolve(name).toString

  def cache(name: String): String = Paths.get("target", "bench", name).toAbsolutePath.toString
}
