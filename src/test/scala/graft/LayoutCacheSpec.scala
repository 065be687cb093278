package graft

import graft.sources.LayoutCache
import java.nio.file.{Files, Paths}

/** Retention contract for the derived-layout cache: the root is a session
  * knob, reuse refreshes a layout's LRU position, keep-newest-K evicts only
  * the cold tail, and a half-built (no `_SUCCESS`) directory is reaped only
  * after the grace period — never while a concurrent build could still be
  * writing it.
  */
class LayoutCacheSpec extends SparkSpec {

  /** Run `f` against a fresh throwaway layout root with the given knobs,
    * restoring the session's previous values after (the session is shared
    * across suites).
    */
  private def withLayoutConf(knobs: (String, String)*)(f: String => Unit): Unit = {
    val dir   = Files.createTempDirectory("graft_lcspec").toString
    val all   = ("graft.layout.dir" -> dir) +: knobs
    val saved = all.map { case (k, _) => k -> spark.conf.getOption(k) }
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try f(dir)
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def build(prefix: String, key: String): String =
    LayoutCache.getOrBuild(spark, prefix, key) { out =>
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, "data.txt"), s"payload-$key")
    }

  test("contentKey over a two-level directory: one listing walk, stable, sees a nested length change") {
    val dir    = Files.createTempDirectory("graft_lc_walk")
    val nested = dir.resolve("day=2024-01-02")
    Files.createDirectories(nested)
    Files.writeString(dir.resolve("part-0.parquet"), "top")
    Files.writeString(nested.resolve("part-1.parquet"), "nested v1")
    val k1 = LayoutCache.contentKey(spark, dir.toString, "walk-v1")
    assert(LayoutCache.contentKey(spark, dir.toString, "walk-v1") == k1)
    // byte-identical to the per-file definition: scheme#src, then each
    // file's relative path, length and mtime in sorted depth-first order
    def entry(rel: String, f: java.nio.file.Path) =
      s"$rel#${Files.size(f)}#${Files.getLastModifiedTime(f).toMillis}"
    val md = java.security.MessageDigest.getInstance("MD5")
    Seq(s"walk-v1#$dir", entry("/day=2024-01-02/part-1.parquet", nested.resolve("part-1.parquet")),
      entry("/part-0.parquet", dir.resolve("part-0.parquet"))).foreach(e => md.update(e.getBytes("UTF-8")))
    assert(k1 == md.digest().map("%02x".format(_)).mkString.take(12))
    val (_, bytes) = graft.sources.Tables.listing(spark, dir.toString)
    assert(bytes == "top".length + "nested v1".length)
    Files.writeString(nested.resolve("part-1.parquet"), "nested v2, longer")
    assert(LayoutCache.contentKey(spark, dir.toString, "walk-v1") != k1)
  }

  test("layout root follows the graft.layout.dir knob") {
    withLayoutConf() { dir =>
      val p = build("graft_lc_root", "aaaaaaaaaaaa")
      assert(p.startsWith(dir), s"$p not under $dir")
      assert(Files.exists(Paths.get(p, "_SUCCESS")))
    }
  }

  test("keep-newest-K evicts the cold tail; reuse (LRU touch) protects a layout") {
    withLayoutConf("graft.layout.keep" -> "2") { dir =>
      val a = build("graft_lc_lru", "aaaaaaaaaaaa")
      Thread.sleep(20)
      build("graft_lc_lru", "bbbbbbbbbbbb")
      Thread.sleep(20)
      // touch a: now a is more recently used than b
      assert(build("graft_lc_lru", "aaaaaaaaaaaa") == a)
      Thread.sleep(20)
      val c = build("graft_lc_lru", "cccccccccccc") // triggers sweep, keep=2
      assert(Files.exists(Paths.get(a)), "recently-USED layout must survive")
      assert(!Files.exists(Paths.get(dir, "graft_lc_lru_bbbbbbbbbbbb")), "cold layout must be evicted")
      assert(Files.exists(Paths.get(c)))
      // survivors stay fully readable
      assert(Files.readString(Paths.get(a, "data.txt")) == "payload-aaaaaaaaaaaa")
    }
  }

  test("half-built dirs survive the grace window and are reaped after it") {
    withLayoutConf() { dir =>
      val partial = Paths.get(dir, "graft_lc_gr_dddddddddddd")
      Files.createDirectories(partial)
      Files.writeString(partial.resolve("part-0"), "in-flight") // no _SUCCESS
      // default grace (1 h): a live build is never reaped
      assert(LayoutCache.sweepPrefix(spark, "graft_lc_gr").isEmpty)
      assert(Files.exists(partial))
      spark.conf.set("graft.layout.grace.ms", "1")
      Thread.sleep(20)
      val gone = LayoutCache.sweepPrefix(spark, "graft_lc_gr")
      assert(gone.exists(_.endsWith("graft_lc_gr_dddddddddddd")))
      assert(!Files.exists(partial), "abandoned half-build must be reaped after grace")
    }
  }

  test("prefix match is exact: sweeping a prefix never touches its extensions") {
    withLayoutConf("graft.layout.keep" -> "1") { dir =>
      build("graft_lc_pfx", "aaaaaaaaaaaa")
      val ext = build("graft_lc_pfx_half", "bbbbbbbbbbbb")
      Thread.sleep(20)
      build("graft_lc_pfx", "cccccccccccc") // sweep graft_lc_pfx with keep=1
      assert(Files.exists(Paths.get(ext)), "graft_lc_pfx_half_* must not be swept as graft_lc_pfx")
      assert(!Files.exists(Paths.get(dir, "graft_lc_pfx_aaaaaaaaaaaa")))
    }
  }

  test("full-root sweep applies the policy to every prefix") {
    withLayoutConf("graft.layout.keep" -> "1") { dir =>
      Seq("aaaaaaaaaaaa", "bbbbbbbbbbbb").foreach { k => build("graft_lc_all1", k); Thread.sleep(20) }
      Seq("aaaaaaaaaaaa", "bbbbbbbbbbbb").foreach { k => build("graft_lc_all2", k); Thread.sleep(20) }
      LayoutCache.sweep(spark)
      val left = Paths.get(dir).toFile.listFiles().map(_.getName).toSet
      assert(left == Set("graft_lc_all1_bbbbbbbbbbbb", "graft_lc_all2_bbbbbbbbbbbb"), s"got $left")
    }
  }
}
