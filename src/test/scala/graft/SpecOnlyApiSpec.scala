package graft

import java.io.File

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** Every public name under src/main has a caller in the program, a
  * `private[graft]` mark, or an allow-list entry with its reason:
  * `tools/spec_only_api.py` lists the public names only the specs use
  * and exits 1 when it finds one, so a new spec-only name fails the
  * suite instead of waiting for someone to run the script.
  */
class SpecOnlyApiSpec extends AnyFunSuite {

  test("tools/spec_only_api.py finds no spec-only public name") {
    // forked tests run in the project base directory, the script's root
    val root = new File(sys.props("user.dir"))
    assert(new File(root, "tools/spec_only_api.py").isFile,
      s"no tools/spec_only_api.py under $root")
    val out = new StringBuilder
    val log = ProcessLogger(l => out ++= l += '\n', l => out ++= l += '\n')
    val code = Process(Seq("python3", "tools/spec_only_api.py"), root) ! log
    assert(code == 0, out.toString)
    assert(out.toString.contains("# 0 spec-only names"), out.toString)
  }
}
