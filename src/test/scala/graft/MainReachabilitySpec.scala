package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, ClassWriter, Handle, MethodVisitor,
  Opcodes}
import org.apache.xbean.asm9.commons.{ClassRemapper, Remapper}
import org.scalatest.funsuite.AnyFunSuite

/** Main-code reachability lint: walks the compiled `src/main` classes
  * from the entry points and fails on any top-level definition, and on
  * any method, that nothing reaches, so dead code cannot come back
  * unnoticed. A method that only specs call is dead too: no gate, bench
  * or product run executes it.
  *
  * Definition level. Roots: the driver contract ([[SparkEntry]],
  * [[Verify]], [[Bench]]), [[Sessions]] (the benchmark harness builds
  * its session there), the pipeline CLI (`jobs.Main`), the HTTP server
  * (`serve.ApiServer`) and every class named in a `META-INF/services`
  * file. A reference is any class name in a class file's constant pool,
  * descriptors, signatures or annotations (read with the ASM that ships
  * in Spark's jars), plus any string constant that names a graft class,
  * which covers TypeTags and reflective lookups. A top-level definition
  * (a class or object with its companion and nested classes) is one
  * unit: reaching any of its classes reaches them all.
  *
  * Method level. Roots: `main` of each entry object, every public
  * member of the driver contract, `Sessions.builder`/`local`, the public
  * API of `ApiServer`, the `META-INF/services` classes, the methods the
  * benchmark harness (`perfbench/harness`) calls, and every method of a
  * class with a supertype outside main code other than `Object`,
  * `Serializable`, `Product` and `Equals`: Spark calls those
  * (expressions, aggregators, rules, strategies, data sources,
  * listeners). An edge is an invoke, a field read (a Scala `val` is
  * read through the field inside its own object, so the read reaches
  * the accessor of that name), a method handle (lambda bodies are
  * reached only through `invokedynamic` bootstrap arguments), or a
  * string constant naming a main class (every method of that class).
  * A call on `O.m` reaches `m` in O, in the ancestors O inherits it
  * from, and in O's main subtypes. Overloads of one name are one node.
  * Reaching any method of a class runs its static initializer. Never
  * reported: constructors, synthetic and bridge methods, `$`-names
  * (default getters, lambda bodies, lazy-val initializers, expanded
  * private names), static forwarders in a Scala object's mirror class
  * and case-class boilerplate.
  *
  * The allow-list keeps declared extension surfaces that no entry
  * point calls yet, one reason per entry; an entry names a top-level
  * definition or a single method (`Def.method`). It is linted too: an
  * entry that becomes reached, or names a definition or method that no
  * longer exists, fails as stale, and so does a harness root that no
  * longer exists. Keep at most 3 entries.
  */
class MainReachabilitySpec extends AnyFunSuite {

  private case class Allow(names: Set[String], why: String)

  private val allowed: Seq[Allow] = Seq(
    Allow(Set("graft.sources.connectors.CensusConnector",
      "graft.sources.connectors.UrlConnector",
      "graft.sources.connectors.ShapefileConnector",
      "graft.sources.connectors.ShapefileReader",
      "graft.sources.connectors.RetryingClient.get"),
      "the paper's fetch connectors (SURVEY §2, S4-S9) and the retrying GET " +
        "only they send; the pipeline CLI fetches Socrata only (POST), these " +
        "are covered by ConnectorsSpec and ShapefileReaderSpec"))

  private val roots = Seq("graft.SparkEntry", "graft.Verify", "graft.Bench",
    "graft.Sessions", "graft.jobs.Main", "graft.serve.ApiServer")

  /** Main methods `perfbench/harness` calls (`Def.method`). The harness
    * builds outside this project, so without this list a deleted method
    * it needs would fail only the benchmark build.
    */
  private val harnessRoots = Seq(
    "graft.functions.GraftFunctions.registerAll", "graft.jobs.Main.ingest",
    "graft.jobs.ExportJob.run", "graft.queries.SharedFrames.setContext",
    "graft.queries.SharedFrames.clear", "graft.queries.SharedFrames.buildLog",
    "graft.catalog.Registry.all", "graft.sources.Tables.orders",
    "graft.sources.Tables.lineitem", "graft.sources.Tables.customer",
    "graft.sources.Tables.documents", "graft.sources.Tables.events",
    "graft.queries.TextQ.all", "graft.queries.SimilarityQ.all",
    "graft.queries.PipelineQ.all", "graft.queries.MultimodalQ.all",
    "graft.queries.BpeQ.all", "graft.queries.Q.name", "graft.queries.Q.fn",
    "graft.serve.ApiServer.start", "graft.serve.ApiServer.stop")

  private val classesDir: Path =
    Paths.get(getClass.getResource("/graft/SparkEntry.class").toURI).getParent.getParent

  private lazy val classFiles: Seq[(String, Array[Byte])] = {
    val files = Using.resource(Files.walk(classesDir)) {
      _.iterator.asScala.filter(_.toString.endsWith(".class")).toList
    }
    files.map(f => classesDir.relativize(f).toString.stripSuffix(".class") ->
      Files.readAllBytes(f))
  }

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
    val refs = classFiles.map { case (internal, bytes) =>
      topLevel(internal) -> references(bytes)
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

  // ---- method level ----

  /** All overloads of one method name in one class. */
  private final class Method {
    var reportable = false // some overload is neither synthetic nor bridge
    var static = true
    var public = false
    val edges = mutable.Set.empty[(String, String)]
    val strings = mutable.Set.empty[String]
  }

  private final class Cls(val supers: Seq[String]) {
    val methods = mutable.Map.empty[String, Method]
  }

  private def model(bytes: Array[Byte]): (String, Cls) = {
    var name = ""
    var cls: Cls = null
    val visitor = new ClassVisitor(Opcodes.ASM9) {
      override def visit(version: Int, access: Int, n: String, signature: String,
                         superName: String, interfaces: Array[String]): Unit = {
        name = n
        cls = new Cls(Option(superName).toSeq ++ interfaces)
      }
      override def visitMethod(access: Int, n: String, descriptor: String,
                               signature: String, exceptions: Array[String]): MethodVisitor = {
        val m = cls.methods.getOrElseUpdate(n, new Method)
        if ((access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) == 0) m.reportable = true
        if ((access & Opcodes.ACC_STATIC) == 0) m.static = false
        if ((access & Opcodes.ACC_PUBLIC) != 0) m.public = true
        new MethodVisitor(Opcodes.ASM9) {
          private def constant(v: Any): Unit = v match {
            case h: Handle => m.edges += h.getOwner -> h.getName
            case s: String => m.strings ++= graftName.findAllIn(s)
            case _ =>
          }
          override def visitMethodInsn(opcode: Int, owner: String, n: String,
                                       descriptor: String, isInterface: Boolean): Unit =
            m.edges += owner -> n
          override def visitFieldInsn(opcode: Int, owner: String, n: String,
                                      descriptor: String): Unit =
            m.edges += owner -> (
              if (opcode == Opcodes.GETFIELD || opcode == Opcodes.GETSTATIC) n else "<clinit>")
          override def visitTypeInsn(opcode: Int, tpe: String): Unit =
            if (opcode == Opcodes.NEW) m.edges += tpe -> "<clinit>"
          override def visitLdcInsn(value: Any): Unit = constant(value)
          override def visitInvokeDynamicInsn(n: String, descriptor: String,
                                              bootstrap: Handle, args: Object*): Unit =
            args.foreach(constant)
        }
      }
    }
    new ClassReader(bytes).accept(visitor, ClassReader.SKIP_DEBUG)
    name -> cls
  }

  private lazy val classes: Map[String, Cls] = classFiles.map(f => model(f._2)).toMap

  private lazy val ancestors: String => Set[String] = {
    val memo = mutable.Map.empty[String, Set[String]]
    def go(c: String): Set[String] = memo.getOrElseUpdate(c,
      classes.get(c).toSeq.flatMap(_.supers).flatMap(s => go(s) + s).toSet)
    go
  }

  private lazy val subtypes: Map[String, Set[String]] =
    classes.keys.toSeq.flatMap(c => ancestors(c).map(_ -> c)).groupMap(_._1)(_._2)
      .view.mapValues(_.toSet).toMap

  private val plainSupers =
    Set("java/lang/Object", "java/io/Serializable", "scala/Product", "scala/Equals")

  /** A case class or case object: the compiler gives it `productArity`. */
  private def isCase(c: String): Boolean =
    classes.get(c).exists(_.methods.contains("productArity"))

  /** Methods the runtime calls by name: `Object` overrides and the
    * Product/Equals side of case classes.
    */
  private val runtimeNames = Set("toString", "hashCode", "equals", "canEqual",
    "productElement", "productArity", "productPrefix", "productIterator",
    "productElementName", "productElementNames", "readResolve", "writeReplace")

  private val caseBoilerplate =
    Set("apply", "unapply", "copy", "curried", "tupled", "andThen", "compose")

  /** The methods a call, field read or handle on `owner.name` reaches. */
  private def targets(owner: String, name: String): Seq[(String, String)] = {
    val candidates =
      if (name == "<init>") Seq(owner)
      else if (name == "<clinit>") owner +: ancestors(owner).toSeq
      else (ancestors(owner) ++ subtypes.getOrElse(owner, Set.empty) + owner).toSeq
    candidates.filter(c => classes.get(c).exists(_.methods.contains(name))).map(_ -> name)
  }

  private def methodsOf(c: String): Seq[(String, String)] =
    classes.get(c).toSeq.flatMap(_.methods.keys).map(c -> _)

  /** Main classes a dotted name denotes: the object and the class. */
  private def classesNamed(dotted: String): Seq[String] = {
    val c = dotted.replace('.', '/')
    Seq(c + "$", c).filter(classes.contains)
  }

  /** `Def.method` resolved to the classes of Def that declare it. */
  private def methodNamed(dotted: String): Seq[(String, String)] = {
    val dot = dotted.lastIndexOf('.')
    val name = dotted.drop(dot + 1)
    classesNamed(dotted.take(dot)).filter(classes(_).methods.contains(name)).map(_ -> name)
  }

  private lazy val methodRoots: Seq[(String, String)] = {
    val mains = Seq("graft.Verify", "graft.Bench", "graft.jobs.Main")
      .flatMap(d => methodNamed(s"$d.main"))
    val contract = Seq("graft.SparkEntry", "graft.Verify", "graft.Bench", "graft.serve.ApiServer")
      .flatMap(classesNamed).flatMap(c => methodsOf(c).filter(n => classes(c).methods(n._2).public))
    val sessions = Seq("graft.Sessions.builder", "graft.Sessions.local").flatMap(methodNamed)
    val services = serviceRoots.flatMap(classesNamed).flatMap(methodsOf)
    val callbacks = classes.keys.toSeq
      .filter(c => ancestors(c).exists(a => !classes.contains(a) && !plainSupers(a)))
      .flatMap(methodsOf)
    val byName = classes.toSeq.flatMap { case (c, cls) =>
      cls.methods.keys.filter(runtimeNames).map(c -> _)
    }
    mains ++ contract ++ sessions ++ services ++ harnessRoots.flatMap(methodNamed) ++
      callbacks ++ byName
  }

  private lazy val methodsReached: Set[(String, String)] = {
    val seen = mutable.Set.empty[(String, String)]
    val todo = mutable.Stack.from(methodRoots)
    while (todo.nonEmpty) {
      val node @ (c, n) = todo.pop()
      if (seen.add(node)) {
        val m = classes(c).methods(n)
        todo.pushAll(targets(c, "<clinit>"))
        m.edges.foreach { case (o, name) => todo.pushAll(targets(o, name)) }
        m.strings.flatMap(classesNamed).foreach(named => todo.pushAll(methodsOf(named)))
      }
    }
    seen.toSet
  }

  /** `Def.method` as a reader writes it: an object's `$` dropped. */
  private def display(c: String, n: String): String =
    s"${c.stripSuffix("$").replace('/', '.')}.$n"

  private lazy val methodFindings: Seq[String] = classes.toSeq.flatMap { case (c, cls) =>
    cls.methods.toSeq.collect {
      case (n, m) if m.reportable && !n.contains('$') && !n.startsWith("<") &&
        !methodsReached((c, n)) &&
        // a static forwarder in an object's mirror class
        !(m.static && classes.contains(c + "$")) &&
        !(caseBoilerplate(n) && (isCase(c) || isCase(c.stripSuffix("$")))) =>
        c -> n
    }
  }.filterNot { case (c, n) =>
    val names = allowed.flatMap(_.names).toSet
    names(topLevel(c)) || names(display(c, n))
  }.map { case (c, n) => display(c, n) }.distinct.sorted

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

  test("every main method is reached from a root or allow-listed") {
    assert(methodFindings.isEmpty,
      s"main methods no root reaches (delete them, move a spec oracle to " +
        s"src/test, or allow-list with a reason): ${methodFindings.mkString(", ")}")
  }

  test("every harness root names an existing method") {
    val missing = harnessRoots.filter(methodNamed(_).isEmpty)
    assert(missing.isEmpty,
      s"perfbench/harness calls main methods that no longer exist: $missing")
  }

  test("allow-list entries are justified and not stale") {
    assert(allowed.size <= 3, s"allow-list holds ${allowed.size} entries, keep at most 3")
    val (defs, methods) = allowed.flatMap(_.names).partition(graph.contains)
    val gone = methods.filter(methodNamed(_).isEmpty)
    assert(gone.isEmpty,
      s"stale allow-list entries (no such definition or method — remove): $gone")
    val nowReached = defs.filter(reached) ++ methods.filter(methodNamed(_).exists(methodsReached))
    assert(nowReached.isEmpty,
      s"stale allow-list entries (now reached from an entry point — remove): $nowReached")
  }
}
