package graft

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The resolved-table memo must not outlive its SparkContext. The check
  * stops a context, and every suite shares one in this JVM, so it runs
  * in a child JVM ([[TablesMemoCheck]]). */
class TablesMemoSpec extends AnyFunSuite {
  test("the Tables memo drops a session once its SparkContext has stopped") {
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvmOpts ++
      Seq("-cp", sys.props("java.class.path"), "graft.TablesMemoCheck", TestSpark.sfDir)
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    assert(Process(cmd).!(log) == 0, out.toString)
  }
}

/** Resolves a table, stops the session, resolves one in a new session,
  * and exits 1 if the memo still holds the stopped session. */
object TablesMemoCheck {
  def main(args: Array[String]): Unit = {
    val first = GraftSession.builder("tables-memo-first", "1").getOrCreate()
    Tables(first, args(0)).region.schema
    first.stop()
    val second = GraftSession.builder("tables-memo-second", "1").getOrCreate()
    Tables(second, args(0)).region.schema
    val held = Tables.memoizedSessions
    second.stop()
    println(s"memo holds ${held.size} session(s); stopped one among them: " +
      held.exists(_ eq first))
    sys.exit(if (held.exists(_ eq first)) 1 else 0)
  }
}
