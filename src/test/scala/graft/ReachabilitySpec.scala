package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import org.scalatest.funsuite.AnyFunSuite

/** Class-file reachability of src/main from the program's entry points:
  * the five mains, the driver contract (`SparkEntry`, whose `queries`
  * map holds every registry builder) and `GraftExtensions`, which Spark
  * instantiates by name. The walk follows every call, field access and
  * `new` in the compiled `graft` classes, and resolves lambdas through
  * their `invokedynamic` bootstrap method handles. An object's static
  * initializer is reached when any of its members is; a class is reached
  * whole once its constructor is, because Spark calls its overrides.
  *
  * The spec pins the public members no entry point reaches to the
  * allowlist below, so code that only specs call cannot come back
  * unnoticed: delete it, or give it a caller, or add it here with the
  * reason it stays.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val classes: Map[String, ClassNode] = {
    val root = Paths.get(SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val s = Files.walk(root.resolve("graft"))
    try s.iterator.asScala.filter(_.toString.endsWith(".class")).map { p =>
      val n = new ClassNode()
      new ClassReader(Files.readAllBytes(p)).accept(n, 0)
      n.name -> n
    }.toMap finally s.close()
  }

  private def isModule(c: ClassNode): Boolean =
    c.name.endsWith("$") && c.fields.asScala.exists(_.name == "MODULE$")

  // Spark calls the overrides of any instance it is handed; an object
  // that extends a class or trait (a Catalyst rule, a dialect) is such
  // an instance too.
  private def reachedWhole(c: ClassNode): Boolean = !isModule(c) ||
    c.superName != "java/lang/Object" ||
    c.interfaces.asScala.exists(i => !Set("java/io/Serializable", "scala/Product", "scala/Equals")(i))

  private def isCaseClass(name: String): Boolean =
    classes.get(name).exists(_.methods.asScala.exists(_.name == "canEqual"))

  private def key(owner: String, name: String, desc: String) = s"$owner.$name$desc"

  /** Keys of every method the entry points reach. */
  private lazy val reached: Set[String] = {
    val seen = mutable.Set.empty[String]
    val todo = mutable.Stack.empty[MethodNode]
    val touched = mutable.Set.empty[String]
    def touch(owner: String): Unit = classes.get(owner).foreach { c =>
      if (touched.add(owner)) c.methods.asScala.filter(_.name == "<clinit>").foreach(enter(c, _))
    }
    def enter(c: ClassNode, m: MethodNode): Unit = if (seen.add(key(c.name, m.name, m.desc))) {
      todo.push(m)
      touch(c.name)
      if (m.name == "<init>" && reachedWhole(c)) c.methods.asScala.foreach(enter(c, _))
    }
    // The declaring class: the owner itself or the nearest supertype.
    def call(owner: String, name: String, desc: String): Unit = {
      val queue = mutable.Queue(owner)
      var found = false
      while (!found && queue.nonEmpty) classes.get(queue.dequeue()).foreach { c =>
        c.methods.asScala.find(m => m.name == name && m.desc == desc) match {
          case Some(m) => enter(c, m); found = true
          case None => queue ++= Option(c.superName) ++ c.interfaces.asScala
        }
      }
      touch(owner)
    }
    // `classOf[C]` hands C to a reflective builder (Jackson, encoders):
    // it constructs C and every graft type its constructors take.
    val built = mutable.Set.empty[String]
    def constructed(name: String): Unit = if (built.add(name)) classes.get(name).foreach { c =>
      c.methods.asScala.filter(_.name == "<init>").foreach { m =>
        enter(c, m)
        "Lgraft/[\\w/$]+".r.findAllIn(Option(m.signature).getOrElse(m.desc)).foreach(t => constructed(t.drop(1)))
      }
    }
    def constant(v: Any): Unit = v match {
      case h: Handle => call(h.getOwner, h.getName, h.getDesc)
      case t: Type if t.getSort == Type.OBJECT => constructed(t.getInternalName)
      case _ =>
    }
    for (o <- Seq("Main", "Bench", "Verify", "Smoke", "Profile"))
      call(s"graft/$o", "main", "([Ljava/lang/String;)V")
    classes("graft/SparkEntry$").methods.asScala.foreach(m => call("graft/SparkEntry$", m.name, m.desc))
    call("graft/functions/GraftExtensions", "<init>", "()V")
    while (todo.nonEmpty)
      todo.pop().instructions.iterator.asScala.foreach {
        case i: MethodInsnNode => call(i.owner, i.name, i.desc)
        case i: FieldInsnNode => touch(i.owner)
        case i: TypeInsnNode => touch(i.desc)
        case i: InvokeDynamicInsnNode => (i.bsm +: i.bsmArgs.toSeq).foreach(constant)
        case i: LdcInsnNode => constant(i.cst)
        case _ =>
      }
    seen.toSet
  }

  private val caseBoilerplate = Set("apply", "unapply", "toString", "hashCode", "equals",
    "copy", "canEqual", "productArity", "productElement", "productPrefix",
    "productIterator", "productElementName", "productElementNames", "tupled", "curried")

  /** Public source-level members no entry point reaches: a class whose
    * constructor is unreached, or an object's or trait's method. */
  private def unreached: Set[String] = classes.values.filterNot(c => c.name.contains("$$") || c.name.contains("$anon")).flatMap { c =>
    val shown = c.name.stripSuffix("$").replace('/', '.').replace('$', '.')
    val ctors = c.methods.asScala.filter(_.name == "<init>")
    def public(m: MethodNode) =
      (m.access & (Opcodes.ACC_PUBLIC | Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) == Opcodes.ACC_PUBLIC
    if (!isModule(c) && (c.access & Opcodes.ACC_INTERFACE) == 0)
      if (ctors.nonEmpty && ctors.forall(m => !reached(key(c.name, m.name, m.desc)))) List(shown) else Nil
    else {
      val companionOfCase = isCaseClass(c.name) || isCaseClass(c.name.stripSuffix("$"))
      c.methods.asScala.filter { m =>
        public(m) && !m.name.contains('$') && !m.name.startsWith("<") &&
          (m.access & Opcodes.ACC_STATIC) == 0 &&
          !(companionOfCase && caseBoilerplate(m.name)) && !reached(key(c.name, m.name, m.desc))
      }.map(m => s"$shown.${m.name}")
    }
  }.toSet

  private val keep: Set[String] = Set(
    // Test hooks into reached code: the committed vectors under
    // AnnIndex's private reader, the unfiltered oracle entries, the
    // raw-estimate form of events_quantile_weekly, and the reset of the
    // rewrite rule's process-wide mappings between specs.
    "graft.ext.AnnIndex.rows",
    "graft.queries.Registry.rawOracleEntries",
    "graft.ext.EventQueries.eventsQuantileWeeklyRaw",
    "graft.plans.RollupRewrite.clear",
    // The expression form MultimodalSpec compares resizeMedia against.
    "graft.ext.Multimodal.resize",
    // Interop with mover itself, for `describe -dsn jdbc:` and extract:
    // its catalog introspection (ColumnMeta is built only by the
    // introspectors).
    "graft.io.PgIntrospect.introspect",
    "graft.io.PgIntrospect.tablesSql",
    "graft.io.PgIntrospect.columnsSql",
    "graft.io.PgIntrospect.primaryKeysSql",
    "graft.io.PgIntrospect.foreignKeysSql",
    "graft.io.JdbcIntrospect.introspect",
    "graft.meta.ColumnMeta",
  )

  test("every public src/main member no entry point reaches is on the keep list") {
    val found = unreached
    assert(found -- keep == Set.empty, "unreached and not kept")
    assert(keep -- found == Set.empty, "kept but reached or gone")
  }
}
