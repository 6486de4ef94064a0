package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.MpWorker

/** Gates [[graft.tools.ExtensionsCheck]]: a fresh session configured
  * only through `spark.sql.extensions` must resolve the whole native
  * function table from SQL text, apply the injected optimizer rule and
  * run the transactional-table SQL face (`tools/tx_parity.sql`). The
  * shared test session cannot re-apply extensions, so the check runs in
  * its own child JVM. */
class ExtensionsCheckSpec extends AnyFunSuite {

  test("a fresh spark.sql.extensions session resolves the SQL surface") {
    val log = Files.createTempFile("graft-extensions-check-", ".log").toFile
    val p = MpWorker.spawn(Nil, "graft.tools.ExtensionsCheck", log)
    val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    val out = new String(Files.readAllBytes(log.toPath),
      StandardCharsets.UTF_8)
    assert(done, s"ExtensionsCheck did not finish in 300 s:\n$out")
    assert(p.exitValue() == 0, s"ExtensionsCheck failed:\n$out")
    assert(out.contains("extensions-ok"), out)
    log.delete()
  }
}
