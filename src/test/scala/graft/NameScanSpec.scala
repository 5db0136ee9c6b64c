package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The name-reference scan as a gate: a public definition in src/main
  * that only tests (or nothing) reach fails the suite, unless the scan's
  * allow-list names it with its reason. */
class NameScanSpec extends AnyFunSuite {

  test("tools/unreferenced_names.py finds no unreferenced name") {
    val root = new java.io.File(sys.props("user.dir"))
    val scan = new ProcessBuilder("python3", "tools/unreferenced_names.py", root.getPath)
      .directory(root).redirectErrorStream(true).start()
    val out = new String(scan.getInputStream.readAllBytes(), UTF_8)
    assert(scan.waitFor() == 0, s"the name scan failed:\n$out")
  }
}
