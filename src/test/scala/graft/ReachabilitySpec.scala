package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps `src/main` free of code that no program reaches.
  *
  * The walk reads the compiled main classes (the directory `graft.Main` was
  * loaded from) and starts at the programs: the `main` of `graft.Main`,
  * `Verify`, `Bench` and the four mains under `tools/`, every public method of
  * `SparkEntry` (the driver's surface), and the two classes Spark loads by
  * name, `XlsxSource` (the service file) and `GraftExtensions`
  * (`spark.sql.extensions`). From each reached method it follows method
  * references, `invokedynamic` handles, field and type references, and
  * virtual calls by name and descriptor to every reached subtype of the
  * call's owner. A reached class's overrides of non-`graft` supertypes are
  * reached too, since Spark and the JDK call those (an `Aggregator`'s
  * `reduce`, a `Function1`'s `apply`, an `Expression`'s `doGenCode`).
  */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  /** Public object methods that no program reaches, and why each stays. A
    * new unreached method and a stale entry both fail the second case. */
  private val allowed: Map[String, String] = Map(
    "etl.IngestOps.withRowId(Dataset, String)" ->
      "perfbench orders its sink input by it, and perfbench builds against src/main",
    "sources.XlsxParsing.checkEntries(ZipFile, String, long, double)" ->
      "perfbench times the workbook's metadata pass with it",
    "sources.XlsxParsing.listSheets(ZipFile, long)" ->
      "perfbench resolves the data sheet and times the metadata pass with it",
    "sources.XlsxParsing.sharedStrings(ZipFile, long)" ->
      "perfbench times the workbook's metadata pass with it",
    "ext.TextOps.tokensSqlSpark(String)" ->
      "the regex reference that TextTokensSpec compares fastTokens against",
    "sources.XlsxParsing.colIndex(String)" ->
      "test seam: XlsxScannerSpec checks the byte-level column parse through it",
    "sources.XlsxParsing.MaxColumns()" ->
      "a constant: scalac inlines its value, so no caller reads the accessor")

  private lazy val walk = Walk(Paths.get(
    classOf[graft.Main.CliError].getProtectionDomain.getCodeSource.getLocation.toURI))

  test("every src/main unit is reached from a program entry point") {
    assert(walk.unreachedUnits.isEmpty,
      s"units no program reaches: ${walk.unreachedUnits.mkString(", ")}")
  }

  test("the public object methods no program reaches are exactly the allow-list") {
    val unreached = walk.unreachedObjectMethods
    assert(unreached == allowed.keySet,
      s"unreached, not allowed: ${(unreached -- allowed.keySet).toSeq.sorted.mkString("; ")}" +
        s" | allowed, but reached or gone: ${(allowed.keySet -- unreached).toSeq.sorted.mkString("; ")}")
  }
}

object ReachabilitySpec {

  private val mains = Seq("graft/Main", "graft/Verify", "graft/Bench", "EntrySmoke",
    "PlanAudit", "StressProbe", "StressRun")
  private val loadedByName = Seq("graft/sources/XlsxSource", "graft/plans/GraftExtensions")
  private val driverSurface = "graft/SparkEntry$"

  private def has(access: Int, flag: Int): Boolean = (access & flag) != 0

  private final case class Method(owner: String, name: String, desc: String)

  final class Walk private (classes: Map[String, ClassNode]) {
    private val reachedClasses = mutable.Set.empty[String]
    private val reached = mutable.Set.empty[Method]
    private val pending = mutable.Queue.empty[Method]
    // (graft owner, name + descriptor) of each virtual call seen so far
    private val virtualCalls = mutable.Set.empty[(String, String)]
    private val externalMethods = mutable.Map.empty[String, Set[String]]

    private def supers(n: ClassNode): Seq[String] =
      Option(n.superName).toSeq ++ n.interfaces.asScala

    /** `c` and its `graft` supertypes. */
    private def graftLineage(c: String): Set[String] = classes.get(c) match {
      case Some(n) => supers(n).flatMap(graftLineage).toSet + c
      case None => Set.empty
    }

    /** Overridable methods (name + descriptor) declared by a non-`graft`
      * type or its supertypes, read from the test classpath. */
    private def external(t: String): Set[String] = externalMethods.getOrElseUpdate(t, {
      val in = getClass.getClassLoader.getResourceAsStream(t + ".class")
      if (in == null) Set.empty
      else {
        val n = new ClassNode
        try new ClassReader(in).accept(n, ClassReader.SKIP_CODE) finally in.close()
        n.methods.asScala.filterNot(m => has(m.access, Opcodes.ACC_STATIC) ||
          has(m.access, Opcodes.ACC_PRIVATE) || m.name.startsWith("<"))
          .map(m => m.name + m.desc).toSet ++ supers(n).flatMap(external)
      }
    })

    private def inheritedExternal(n: ClassNode): Set[String] =
      supers(n).flatMap(s => classes.get(s).map(inheritedExternal).getOrElse(external(s))).toSet

    private def reachMethod(m: Method): Unit = if (reached.add(m)) pending += m

    private def reachClass(c: String): Unit = classes.get(c).foreach { n =>
      if (reachedClasses.add(c)) {
        supers(n).foreach(reachClass)
        val overrides = inheritedExternal(n)
        val lineage = graftLineage(c)
        n.methods.asScala.foreach { m =>
          val sig = m.name + m.desc
          val dispatched = !has(m.access, Opcodes.ACC_STATIC) &&
            (overrides(sig) || lineage.exists(o => virtualCalls((o, sig))))
          if (m.name == "<clinit>" || dispatched) reachMethod(Method(c, m.name, m.desc))
        }
      }
    }

    /** The `graft` class that declares `name + desc` for a call on `owner`. */
    private def declaring(owner: String, sig: String): Option[String] = classes.get(owner).flatMap { n =>
      if (n.methods.asScala.exists(m => m.name + m.desc == sig)) Some(owner)
      else supers(n).iterator.flatMap(declaring(_, sig)).nextOption()
    }

    private def call(owner: String, name: String, desc: String, virtual: Boolean): Unit =
      if (classes.contains(owner)) {
        reachClass(owner)
        val sig = name + desc
        declaring(owner, sig).foreach(d => reachMethod(Method(d, name, desc)))
        if (virtual && virtualCalls.add((owner, sig)))
          for (c <- reachedClasses.toSeq if graftLineage(c)(owner);
               m <- classes(c).methods.asScala if m.name + m.desc == sig)
            reachMethod(Method(c, m.name, m.desc))
      }

    private def handle(h: Handle): Unit = call(h.getOwner, h.getName, h.getDesc,
      h.getTag == Opcodes.H_INVOKEVIRTUAL || h.getTag == Opcodes.H_INVOKEINTERFACE)

    private def typeRef(t: Type): Unit = t.getSort match {
      case Type.OBJECT => reachClass(t.getInternalName)
      case Type.ARRAY => typeRef(t.getElementType)
      case Type.METHOD => (t.getArgumentTypes :+ t.getReturnType).foreach(typeRef)
      case _ => ()
    }

    private def constant(v: Any): Unit = v match {
      case h: Handle => handle(h)
      case t: Type => typeRef(t)
      case _ => ()
    }

    private def scan(m: Method): Unit = {
      val node = classes(m.owner).methods.asScala.find(x => x.name == m.name && x.desc == m.desc).get
      node.tryCatchBlocks.asScala.foreach(b => Option(b.`type`).foreach(reachClass))
      node.instructions.iterator().asScala.foreach {
        case i: MethodInsnNode => call(i.owner, i.name, i.desc,
          i.getOpcode == Opcodes.INVOKEVIRTUAL || i.getOpcode == Opcodes.INVOKEINTERFACE)
        case i: InvokeDynamicInsnNode =>
          handle(i.bsm)
          i.bsmArgs.foreach(constant)
        case i: FieldInsnNode => reachClass(i.owner)
        case i: TypeInsnNode => typeRef(Type.getObjectType(i.desc))
        case i: LdcInsnNode => constant(i.cst)
        case i: MultiANewArrayInsnNode => typeRef(Type.getType(i.desc))
        case _ => ()
      }
    }

    private def run(): this.type = {
      mains.foreach(c => call(c, "main", "([Ljava/lang/String;)V", virtual = false))
      loadedByName.foreach(c => call(c, "<init>", "()V", virtual = false))
      reachClass(driverSurface)
      classes(driverSurface).methods.asScala.filter(m => has(m.access, Opcodes.ACC_PUBLIC))
        .foreach(m => call(driverSurface, m.name, m.desc, virtual = false))
      while (pending.nonEmpty) scan(pending.dequeue())
      this
    }

    /** A source file's top-level classes and objects: everything up to the
      * first `$` of the simple name. */
    private def unit(c: String): String = {
      val slash = c.lastIndexOf('/')
      val dollar = c.indexOf('$', slash + 1)
      if (dollar < 0) c else c.substring(0, dollar)
    }

    def unreachedUnits: Seq[String] =
      (classes.keySet.map(unit) -- reachedClasses.map(unit)).toSeq.sorted.map(_.replace('/', '.'))

    private def isModule(n: ClassNode): Boolean =
      n.name.endsWith("$") && n.fields.asScala.exists(_.name == "MODULE$")

    private def caseCompanion(n: ClassNode): Boolean = classes.get(n.name.stripSuffix("$"))
      .exists(_.methods.asScala.exists(_.name == "productPrefix"))

    /** `pkg.Object.method(ParamTypes)`, relative to `graft`. */
    private def key(owner: String, m: MethodNode): String = {
      def simple(t: Type): String = t.getSort match {
        case Type.ARRAY => simple(t.getElementType) + "[]" * t.getDimensions
        case Type.OBJECT => t.getClassName.substring(t.getClassName.lastIndexOf('.') + 1)
        case _ => t.getClassName
      }
      val obj = owner.stripSuffix("$").replace('/', '.').replace('$', '.').stripPrefix("graft.")
      s"$obj.${m.name}(${Type.getArgumentTypes(m.desc).map(simple).mkString(", ")})"
    }

    def unreachedObjectMethods: Set[String] = (for {
      n <- classes.values if isModule(n)
      m <- n.methods.asScala
      if has(m.access, Opcodes.ACC_PUBLIC)
      if !has(m.access, Opcodes.ACC_SYNTHETIC) && !has(m.access, Opcodes.ACC_BRIDGE)
      if !m.name.startsWith("<") && !m.name.contains("$anonfun$") && !m.name.contains("$default$")
      if !(caseCompanion(n) && Set("apply", "unapply", "toString")(m.name))
      if !reached(Method(n.name, m.name, m.desc))
    } yield key(n.name, m)).toSet
  }

  object Walk {
    def apply(dir: Path): Walk = {
      val files = Files.walk(dir)
      val classes = try files.iterator().asScala.filter(_.toString.endsWith(".class")).map { p =>
        val n = new ClassNode
        new ClassReader(Files.readAllBytes(p)).accept(n, ClassReader.SKIP_DEBUG | ClassReader.SKIP_FRAMES)
        n.name -> n
      }.toMap finally files.close()
      new Walk(classes).run()
    }
  }
}
