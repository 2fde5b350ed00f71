package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source rules for the engine under `src/main/scala`: every parquet read
  * goes through `graft.core.Parquet`, every eager checkpoint through
  * `graft.core.Stage` (and no operator persists or unpersists), only `graft.core.SegmentLog` names the segment
  * protocol's files and writes bucketed roots, no image is read around the
  * decoder's strict ImageIO read, and no temp view or
  * streaming query takes a fixed name. Each pattern is first checked against snippets it must and must
  * not match. */
class SourceGuardSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")
  private val graftRoot = main.resolve("graft")

  private def selfCheck(pattern: Regex, matching: Seq[String], nonMatching: Seq[String]): Unit = {
    matching.foreach(s => assert(pattern.findFirstIn(s).isDefined, s))
    nonMatching.foreach(s => assert(pattern.findFirstIn(s).isEmpty, s))
  }

  /** `file:line` of every match of `pattern` in the `.scala` files under
    * `root`, outside the `exempt` files. */
  private def offenders(pattern: Regex, root: Path, exempt: Set[Path]): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    assert(files.size > 20, s"${files.size} sources under $root")
    files
      .filterNot(exempt)
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        pattern.findAllMatchIn(text).map(m => s"$p:${text.take(m.start).count(_ == '\n') + 1}")
      }
  }

  /** A parquet read through `spark.read`, optionally with `.option(s)(...)`
    * between; `.schema(...)` reads infer nothing and are not matched. */
  private val SparkRead =
    """\bread\s*(?:\.\s*options?\s*\((?:[^()]|\([^()]*\))*\)\s*)*\.\s*parquet\s*\(""".r

  test("engine sources read parquet only through graft.core.Parquet") {
    selfCheck(SparkRead,
      Seq("spark.read.parquet(p)", "s.read.parquet(a, b)", "df.sparkSession.read.parquet(p)",
        "spark.read\n  .option(\"basePath\", s\"$d\")\n  .parquet(p)", "spark.read.options(m(x)).parquet(p)"),
      Seq("spark.readStream.schema(s).parquet(d)", "spark.read.schema(\"id LONG\").parquet(d)",
        "df.write.parquet(d)", "Parquet.read(spark, p)"))
    val bad = offenders(SparkRead, graftRoot, Set(graftRoot.resolve("core/Parquet.scala")))
    assert(bad.isEmpty, bad.mkString("route through Parquet.read: ", ", ", ""))
  }

  private val Checkpoint = """\.\s*localCheckpoint\s*\(""".r

  test("engine sources checkpoint only through graft.core.Stage") {
    selfCheck(Checkpoint,
      Seq("df.localCheckpoint()", "df\n  .select(c)\n  .localCheckpoint()", "df.localCheckpoint(eager = true)"),
      Seq("s(df)", "s.loop(df)", "// a localCheckpoint here could never be freed",
        "df.checkpoint()", "localCheckpointed"))
    val bad = offenders(Checkpoint, graftRoot, Set(graftRoot.resolve("core/Stage.scala")))
    assert(bad.isEmpty, bad.mkString("checkpoint through Stage.scope: ", ", ", ""))
  }

  private val Persist = """\.\s*(?:un)?persist\s*\(""".r

  test("operators neither persist nor unpersist: graft.core.Stage owns materialization") {
    selfCheck(Persist,
      Seq("proj.persist(StorageLevel.MEMORY_AND_DISK)", "proj.unpersist(blocking = false)",
        "df\n  .select(c)\n  .persist()", "df.unpersist ()"),
      Seq("s(df)", "Stage.free(df)", "// with per-round unpersist", "sc.getPersistentRDDs",
        "persistent()", "df.localCheckpoint()"))
    val operators = graftRoot.resolve("operators").toString + "/"
    val bad = offenders(Persist, graftRoot, Set.empty).filter(_.startsWith(operators))
    assert(bad.isEmpty, bad.mkString("materialize through Stage.scope: ", ", ", ""))
  }

  private val BlocksRef = """\bBlocks\b""".r

  test("no engine source refers to the removed graft.core.Blocks") {
    selfCheck(BlocksRef,
      Seq("graft.core.Blocks.free(df)", "import graft.core.Blocks", "Blocks.free(x)"),
      Seq("val nBlocks = 3", "minHashBuildingBlocks", "skipSubBlocks(b, pos)", "Stage.free(df)"))
    val bad = offenders(BlocksRef, main, Set.empty)
    assert(bad.isEmpty, bad.mkString("free through Stage: ", ", ", ""))
  }

  /** A bucketed-root write outside the shared writer: a direct
    * `_BUCKETS` marker write, or a write partitioned by a bucket column. */
  private val BucketWrite =
    """\bSegmentLog\s*\.\s*writeBuckets\s*\(|\.\s*partitionBy\s*\(\s*"(?:bucket|pb)"\s*\)""".r

  test("operators write bucketed roots only through graft.core.SegmentLog") {
    selfCheck(BucketWrite,
      Seq("SegmentLog.writeBuckets(fs, dir, p)", "df.write.partitionBy(\"bucket\").parquet(d)",
        "df.write.mode(\"append\").partitionBy(\"pb\").parquet(d)",
        "rows.repartition(col(\"bucket\"))\n  .write.mode(\"overwrite\")\n  .partitionBy( \"bucket\" )"),
      Seq("SegmentLog.readBuckets(fs, root)", "Bands.write(fs, dir, p, Some(rows))",
        "SegmentLog.writePartitioned(df, \"bucket\", \"append\", d)", "Window.partitionBy(col(\"bucket\"))",
        "df.write.partitionBy(\"shard\").parquet(d)", "// written `partitionBy(pb)`"))
    val operators = graftRoot.resolve("operators").toString + "/"
    val bad = offenders(BucketWrite, graftRoot, Set.empty).filter(_.startsWith(operators))
    assert(bad.isEmpty, bad.mkString("write bucketed roots through SegmentLog: ", ", ", ""))
  }

  /** A segment-protocol file or directory name inside a string: the fold
    * markers, the `_SEQ` commit mark, the `_BUCKETS` marker, or a compact
    * segment name. */
  private val ProtocolLiteral = """(?:"|/)(?:_folded|_SEQ|_BUCKETS)(?:"|/)|"compact_""".r

  test("engine sources name the segment protocol's files only in graft.core.SegmentLog") {
    selfCheck(ProtocolLiteral,
      Seq("new Path(root, \"_folded\")", "s\"$path/_folded/$name\"", "new Path(dir, \"_SEQ\")",
        "s\"$root/_BUCKETS\"", "\"_BUCKETS\"", "s\"compact_${uuid}\"", "name.startsWith(\"compact_\")"),
      Seq("// under `_folded/` commits", "SegmentLog.isCompact(name)", "the `_SEQ` sidecar",
        "\"_BANDS\"", "s\"$path/segs/$name\"", "`segs/compact_*`", "\"_SUCCESS\""))
    val bad = offenders(ProtocolLiteral, graftRoot, Set(graftRoot.resolve("core/SegmentLog.scala")))
    assert(bad.isEmpty, bad.mkString("name protocol files through SegmentLog: ", ", ", ""))
  }

  /** An ImageIO shortcut around the image decoder's strict read:
    * `ImageIO.read` returns what the reader salvages without its warnings,
    * `ImageIO.createImageInputStream` may buffer through the JVM-wide disk
    * cache, and `ImageIO.setUseCache` changes that cache for every caller. */
  private val ImageIOShortcut =
    """\bImageIO\s*\.\s*(?:read|createImageInputStream|setUseCache)\s*\(""".r

  test("engine sources read images only through the decoder's strict ImageIO read") {
    selfCheck(ImageIOShortcut,
      Seq("ImageIO.read(new ByteArrayInputStream(b))", "javax.imageio.ImageIO.read(in)",
        "ImageIO.createImageInputStream(in)", "ImageIO.setUseCache(false)", "ImageIO\n  .read (f)"),
      Seq("ImageIO.getImageReaders(in)", "reader.read(0)", "reader.readRaster(0, null)",
        "new MemoryCacheImageInputStream(in)", "ImageIO.getUseCache", "ImageIO.readerFor(x)"))
    val bad = offenders(ImageIOShortcut, graftRoot, Set.empty)
    assert(bad.isEmpty, bad.mkString("decode images through Multimodal.ImageDecoder.decode: ", ", ", ""))
  }

  /** A temp view or streaming query registered under a fixed name: a plain
    * literal, or an `s"…"` without interpolation. `Verify` runs queries
    * concurrently on one session, so a fixed name in its shared catalog
    * races. */
  private val FixedViewName =
    """\b(?:createOrReplaceTempView|createTempView|queryName)\s*\(\s*(?:"[^"]*"|s"[^"$]*")\s*\)""".r

  test("engine sources name temp views and streaming queries per call, never fixed") {
    selfCheck(FixedViewName,
      Seq("df.createOrReplaceTempView(\"v_orders\")", "df.createTempView(s\"tmp\")",
        ".queryName(\"mem\")", ".queryName( s\"graft_mem\" )", "df.createOrReplaceTempView(\"a$b\")"),
      Seq("df.createOrReplaceTempView(s\"v_orders_$tag\")", ".queryName(name)",
        ".queryName(s\"graft_mem_${uuid}\")", "df.createTempView(\"v_\" + tag)",
        "df.createOrReplaceTempView(viewName)"))
    val bad = offenders(FixedViewName, graftRoot, Set.empty)
    assert(bad.isEmpty, bad.mkString("name views per call (Verify runs queries concurrently): ", ", ", ""))
  }
}
