package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.xbean.asm9.{ClassReader, ClassWriter, Opcodes}
import org.apache.xbean.asm9.commons.{ClassRemapper, Remapper}
import org.scalatest.funsuite.AnyFunSuite

/** Main-code reachability lint: walks the compiled `src/main` classes
  * from the entry points and fails on any top-level definition that
  * nothing reaches, so dead code cannot come back unnoticed.
  *
  * Roots: the driver contract ([[SparkEntry]], [[Verify]], [[Bench]]),
  * [[Sessions]] (the benchmark harness builds its session there), the
  * pipeline CLI (`jobs.Main`), the HTTP server (`serve.ApiServer`) and
  * every class named in a `META-INF/services` file.
  *
  * A reference is any class name in a class file's constant pool,
  * descriptors, signatures or annotations (read with the ASM that
  * ships in Spark's jars), plus any string constant that names a graft
  * class, which covers TypeTags and reflective lookups. A top-level
  * definition (a class or object with its companion and nested
  * classes) is one unit: reaching any of its classes reaches them all.
  *
  * The allow-list keeps declared extension surfaces that no entry
  * point calls yet, one reason per entry. It is linted too: an entry
  * that becomes reached, or names a definition that no longer exists,
  * fails as stale. Keep at most 3 entries.
  */
class MainReachabilitySpec extends AnyFunSuite {

  private case class Allow(names: Set[String], why: String)

  private val allowed: Seq[Allow] = Seq(
    Allow(Set("graft.sources.connectors.CensusConnector",
      "graft.sources.connectors.UrlConnector",
      "graft.sources.connectors.ShapefileConnector",
      "graft.sources.connectors.ShapefileReader"),
      "the paper's fetch connectors (SURVEY §2, S4-S9); the pipeline CLI " +
        "fetches Socrata only, these are covered by ConnectorsSpec and " +
        "ShapefileReaderSpec"),
    Allow(Set("graft.sources.JdbcSource"),
      "the paper's JDBC source (SURVEY S10/K1); no catalog dataset reads " +
        "from a database yet"),
    Allow(Set("graft.streaming.StreamingDocs",
      "graft.streaming.StreamingEvents", "graft.streaming.StreamingVectors"),
      "the declared streaming extension: incremental twins of batch " +
        "queries, pinned against them by their streaming specs"))

  private val roots = Seq("graft.SparkEntry", "graft.Verify", "graft.Bench",
    "graft.Sessions", "graft.jobs.Main", "graft.serve.ApiServer")

  private val classesDir: Path =
    Paths.get(getClass.getResource("/graft/SparkEntry.class").toURI).getParent.getParent

  /** Top-level definition of a class, as a dotted name: the internal
    * name cut at the first `$` of its simple name.
    */
  private def topLevel(internalName: String): String = {
    val pkgEnd = internalName.lastIndexOf('/') + 1
    val dollar = internalName.indexOf('$', pkgEnd)
    (if (dollar < 0) internalName else internalName.substring(0, dollar)).replace('/', '.')
  }

  private val graftName = """graft[./][A-Za-z0-9_./$]+""".r

  /** Internal names a class file references, plus dotted graft names
    * found in its string constants.
    */
  private def references(bytes: Array[Byte]): (Set[String], Set[String]) = {
    val classes = mutable.Set.empty[String]
    val strings = mutable.Set.empty[String]
    val remapper = new Remapper(Opcodes.ASM9) {
      override def map(internalName: String): String = {
        classes += internalName
        internalName
      }
      override def mapValue(value: Object): Object = {
        value match {
          case s: String => strings ++= graftName.findAllIn(s).map(_.replace('/', '.'))
          case _ =>
        }
        super.mapValue(value)
      }
    }
    new ClassReader(bytes).accept(new ClassRemapper(new ClassWriter(0), remapper), 0)
    (classes.toSet, strings.toSet)
  }

  /** Every top-level main definition, mapped to the definitions it
    * references.
    */
  private lazy val graph: Map[String, Set[String]] = {
    val files = Using.resource(Files.walk(classesDir)) {
      _.iterator.asScala.filter(_.toString.endsWith(".class")).toList
    }
    val refs = files.map { f =>
      val internal = classesDir.relativize(f).toString.stripSuffix(".class")
      topLevel(internal) -> references(Files.readAllBytes(f))
    }
    val defs = refs.map(_._1).toSet
    // a dotted string names a definition if some prefix of it is one
    // ("graft.x.Y.Inner" and "graft.x.Y$" both name graft.x.Y)
    def named(s: String): Option[String] =
      s.split("[.$]").inits.map(_.mkString(".")).find(defs)
    refs.groupMapReduce(_._1) { case (_, (classes, strings)) =>
      classes.map(topLevel).filter(defs) ++ strings.flatMap(named)
    }(_ ++ _)
  }

  private lazy val serviceRoots: Seq[String] = {
    val dir = classesDir.resolve("META-INF/services")
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.list(dir)) {
      _.iterator.asScala.toList.flatMap(Files.readAllLines(_).asScala)
        .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)
    }
  }

  private lazy val reached: Set[String] = {
    val seen = mutable.Set.empty[String]
    val todo = mutable.Stack.from(roots ++ serviceRoots)
    while (todo.nonEmpty) {
      val d = todo.pop()
      if (seen.add(d)) todo.pushAll(graph.getOrElse(d, Set.empty))
    }
    seen.toSet
  }

  test("the walk sees the compiled main classes and every root") {
    assert(Files.isDirectory(classesDir), s"main classes are not a directory: $classesDir")
    val missing = (roots ++ serviceRoots).filterNot(graph.contains)
    assert(missing.isEmpty, s"roots with no compiled class: $missing")
    assert(serviceRoots.nonEmpty, "no META-INF/services entry found")
  }

  test("every top-level main definition is reached from an entry point or allow-listed") {
    val unreached = (graph.keySet -- reached -- allowed.flatMap(_.names)).toSeq.sorted
    assert(unreached.isEmpty,
      s"main code no entry point reaches (delete it, or allow-list it with " +
        s"a reason): ${unreached.mkString(", ")}")
  }

  test("allow-list entries are justified and not stale") {
    assert(allowed.size <= 3, s"allow-list holds ${allowed.size} entries, keep at most 3")
    val gone = allowed.flatMap(_.names).filterNot(graph.contains)
    assert(gone.isEmpty, s"stale allow-list entries (no such definition — remove): $gone")
    val nowReached = allowed.flatMap(_.names).filter(reached)
    assert(nowReached.isEmpty,
      s"stale allow-list entries (now reached from an entry point — remove): $nowReached")
  }
}
