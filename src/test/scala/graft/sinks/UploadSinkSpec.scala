package graft.sinks

import java.nio.file.Files

import graft.SparkSpec

/** K5/D3 — uploader semantics: newest-by-mtime pick, settle gate,
  * same-size skip, dup rename, one-shot local guard
  * (uploader/main.py:35-135). */
class UploadSinkSpec extends SparkSpec {
  import UploadSink._

  private def setup() = {
    val fin = tempDir("up_fin")
    val rem = tempDir("up_rem")
    (fin, rem, new LocalDirStore(rem))
  }

  test("uploads the newest finished file by mtime") {
    val (fin, rem, store) = setup()
    Files.writeString(fin.resolve("old.csv"), "old")
    Files.setLastModifiedTime(fin.resolve("old.csv"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 100000))
    Files.writeString(fin.resolve("new.csv"), "newer")
    val up = new UploadSink(fin, store, settle = () => ())
    assert(up.sweep() == Uploaded("new.csv"))
    assert(Files.readString(rem.resolve("new.csv")) == "newer")
  }

  test("skips when remote already holds the same name at the same size (D3)") {
    val (fin, _, store) = setup()
    Files.writeString(fin.resolve("a.csv"), "12345")
    store.put("a.csv", "12345".getBytes)
    val up = new UploadSink(fin, store, settle = () => ())
    assert(up.sweep() == SkippedSameSize("a.csv"))
  }

  test("renames with .dup_<mtime> when remote has same name, different size") {
    val (fin, rem, store) = setup()
    Files.writeString(fin.resolve("a.csv"), "local-longer-content")
    store.put("a.csv", "short".getBytes)
    val up = new UploadSink(fin, store, settle = () => ())
    up.sweep() match {
      case RenamedDuplicate(dup) =>
        assert(dup.startsWith("a.csv.dup_"))
        assert(Files.readString(rem.resolve(dup)) == "local-longer-content")
        assert(new String(Files.readAllBytes(rem.resolve("a.csv"))) == "short") // untouched
      case other => fail(s"expected RenamedDuplicate, got $other")
    }
  }

  test("a file still growing during the settle window is not uploaded") {
    val (fin, _, store) = setup()
    val f = fin.resolve("grow.csv")
    Files.writeString(f, "start")
    val up = new UploadSink(fin, store,
      settle = () => Files.writeString(f, "start-plus-growth"))
    assert(up.sweep() == NotSettled)
  }

  test("local guard: the same newest file is not re-uploaded next sweep") {
    val (fin, _, store) = setup()
    Files.writeString(fin.resolve("a.csv"), "x")
    val up = new UploadSink(fin, store, settle = () => ())
    assert(up.sweep() == Uploaded("a.csv"))
    assert(up.sweep() == NothingToUpload)
  }
}
