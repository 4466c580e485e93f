package graft

import graft.ops.{OpsShared, Tables}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** File-keyed memo keys and the env overrides read beside them. */
class FingerprintSpec extends AnyFunSuite {

  test("renaming Aa.parquet to BB.parquet in place changes the memo key") {
    assert("Aa".hashCode == "BB".hashCode) // the 32-bit collision the key must survive
    val dir = Files.createTempDirectory("graft-fp")
    val table = Files.createDirectories(dir.resolve("embeddings.parquet"))
    val aa = Files.write(table.resolve("Aa.parquet"), Array[Byte](1, 2, 3))
    val before = OpsShared.dirKey(dir.toString)
    val mtime = Files.getLastModifiedTime(aa)
    val bb = Files.move(aa, table.resolve("BB.parquet"))
    assert(Files.getLastModifiedTime(bb) == mtime && Files.size(bb) == 3L)
    assert(OpsShared.dirKey(dir.toString) != before)
  }

  test("SPARK_GRAFT_RESPLIT_MAX_BYTES: default, override, malformed values refused by name") {
    assert(Tables.parseResplitMaxBytes(None) == (256L << 20))
    assert(Tables.parseResplitMaxBytes(Some("1048576")) == 1048576L)
    Seq("256MB", "", "0", "-5").foreach { v =>
      val e = intercept[IllegalArgumentException](Tables.parseResplitMaxBytes(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_RESPLIT_MAX_BYTES") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }
}
