package graft.server

import scala.io.StdIn
import graft.engine.QueryEngine

/** Interactive + one-shot CLI client, the analog of the reference's
  * `ranger-client` (/root/reference/cmd/client/main.go): the same
  * command surface —
  *
  *   query "SQL"                     one-shot statement
  *   shell                           interactive shell (default), with
  *                                   the reference's built-ins: exit,
  *                                   quit, help, history, clear
  *   import <file> --table t [--namespace ns] [--overwrite]
  *   table list | describe <t> | drop <t>
  *   catalog namespaces | create-namespace <n> | drop-namespace <n>
  *
  * Global flags mirror the reference's persistent flags: `--server
  * host:port` (native protocol, default 127.0.0.1:2849), `--user`,
  * `--database`. Two backends, like the reference's client:
  *  - embedded (default, no --server): a local SparkSession + engine;
  *  - remote (`--server h:p` or the legacy `--connect h:p`): the
  *    native binary protocol via the SDK client — no Spark in the
  *    client process.
  * Non-interactive shell use: `echo "SELECT 1;" | sbt "runMain ..."`. */
object Repl {

  /** Uniform execution face over the embedded engine and the remote
    * SDK client, so every CLI command runs identically on both. */
  private[graft] trait Backend {
    /** (columns, rows, status message) */
    def run(sql: String): (Seq[String], Seq[Seq[Any]], String)
    def close(): Unit = ()
  }

  private[graft] final class EngineBackend(engine: QueryEngine) extends Backend {
    def run(sql: String): (Seq[String], Seq[Seq[Any]], String) = {
      val r = engine.execute(sql)
      (r.columns, r.data, r.message)
    }
  }

  private final class RemoteBackend(host: String, port: Int,
                                    database: String, user: String) extends Backend {
    private val client = graft.sdk.GraftClient.open(
      graft.sdk.GraftClient.Options(host = host, port = port,
        database = database, user = user))
    def run(sql: String): (Seq[String], Seq[Seq[Any]], String) = {
      val r = client.query(sql)
      (r.columns, r.rows.map(_.values), "")
    }
    override def close(): Unit = client.close()
  }

  def main(args: Array[String]): Unit = {
    val (flags, cmd) = parseArgs(args.toSeq)
    // legacy entry: `--connect host:port` == `--server host:port shell`
    val backend = flags.get("server").orElse(flags.get("connect")) match {
      case Some(hp) =>
        val Array(host, port) = hp.split(":", 2)
        new RemoteBackend(host, port.toInt,
          flags.getOrElse("database", "default"),
          flags.getOrElse("user", "default"))
      case None => new EngineBackend(embeddedEngine(flags))
    }
    try {
      val code = cmd match {
        case Seq() | Seq("shell") => shellLoop(backend); 0
        case other => runCommand(backend, other, flags, println(_))
      }
      if (code != 0) sys.exit(code)
    } finally backend.close()
  }

  /** `--flag value` pairs (anywhere) + bare `--overwrite`; the rest is
    * the command and its positional args, in order. */
  private[graft] def parseArgs(args: Seq[String]): (Map[String, String], Seq[String]) = {
    val flags = Map.newBuilder[String, String]
    val rest = Seq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a == "--overwrite") { flags += ("overwrite" -> "true"); i += 1 }
      else if (a.startsWith("--") && i + 1 < args.length) {
        flags += (a.stripPrefix("--") -> args(i + 1)); i += 2
      } else if (a.startsWith("--")) {
        flags += (a.stripPrefix("--") -> "true"); i += 1
      } else { rest += a; i += 1 }
    }
    (flags.result(), rest.result())
  }

  /** One CLI command → exit code; `out` receives the rendered lines
    * (injectable for specs). Output shapes mirror the reference's
    * (cmd/client/main.go:481-620). */
  private[graft] def runCommand(b: Backend, cmd: Seq[String],
                                flags: Map[String, String],
                                out: String => Unit): Int =
    try {
      cmd match {
        case Seq("query", sql) =>
          val (cols, rows, msg) = b.run(sql)
          if (cols.nonEmpty) out(renderTable(cols, rows).stripSuffix("\n"))
          if (msg.nonEmpty) out(msg)
          out(s"${rows.length} row(s)")
          0
        case Seq("table", "list") =>
          val (_, rows, _) = b.run("SHOW TABLES")
          out("Tables:")
          if (rows.isEmpty) out("   No tables found")
          // SHOW TABLES layouts: (namespace, tableName, ...) or (name)
          else rows.foreach(r => out(s"   - ${tableNameOf(r)}"))
          0
        case Seq("table", "describe", t) =>
          val (_, rows, _) = b.run(s"DESCRIBE $t")
          out(s"Table: $t")
          out("Schema:")
          if (rows.isEmpty) out("   No columns found")
          else rows.foreach(r => out(s"   - ${r.head}: ${r(1)}"))
          0
        case Seq("table", "drop", t) =>
          b.run(s"DROP TABLE $t")
          out(s"Table $t dropped")
          0
        case Seq("catalog", "namespaces") =>
          val (_, rows, _) = b.run("SHOW DATABASES")
          out("Namespaces:")
          if (rows.isEmpty) out("   No namespaces found")
          else rows.foreach(r => out(s"   - ${r.head}"))
          0
        case Seq("catalog", "create-namespace", n) =>
          b.run(s"CREATE DATABASE $n")
          out(s"Namespace $n created")
          0
        case Seq("catalog", "drop-namespace", n) =>
          b.run(s"DROP DATABASE $n")
          out(s"Namespace $n dropped")
          0
        case Seq("import", file) =>
          importFile(b, file, flags, out)
        case other =>
          out(s"unknown command: ${other.mkString(" ")}")
          out(usage)
          1
      }
    } catch {
      case e: Exception => out(s"ERROR: ${e.getMessage}"); 1
    }

  /** `import <file> --table t [--namespace ns] [--overwrite]`
    * (cmd/client/main.go:457-479): the reference's import issues
    * `COPY t FROM 'file' (FORMAT PARQUET)` through its client — here
    * the file's rows land through the engine's INSERT funnel (so CDC
    * and index maintenance ride along), parquet-only like the
    * reference. The target table must exist (the reference's COPY
    * needs that too); --overwrite replaces its contents first.
    *
    * The INSERT's `parquet.\`file\`` read executes WHERE THE ENGINE
    * RUNS: local-filesystem existence is only checked for the embedded
    * backend (a remote server reads its OWN filesystem — a client-side
    * check would validate the wrong machine). --overwrite is staged:
    * the source must open and match the target's column arity
    * SERVER-side before the DELETE runs, so a bad file cannot strand
    * an emptied table. */
  private def importFile(b: Backend, file: String,
                         flags: Map[String, String],
                         out: String => Unit): Int = {
    val table = flags.getOrElse("table", "")
    if (table.isEmpty) { out("ERROR: import needs --table <name>"); return 1 }
    val ns = flags.getOrElse("namespace", "default")
    val qualified = if (table.contains(".")) table else s"$ns.$table"
    if (b.isInstanceOf[EngineBackend])
      require(new java.io.File(file).exists, s"file $file does not exist")
    if (!file.toLowerCase.endsWith(".parquet")) {
      out("ERROR: supported format: parquet (the reference's COPY ... FORMAT PARQUET)")
      return 1
    }
    val src = s"parquet.`$file`"
    val present =
      try { b.run(s"DESCRIBE $qualified"); true }
      catch { case _: Exception => false }
    if (!present) {
      // the reference's COPY t FROM ... also needs t to exist
      out(s"ERROR: table $qualified does not exist — CREATE TABLE it first")
      return 1
    }
    if (flags.get("overwrite").contains("true")) {
      // validate BEFORE the destructive step, on the machine that will
      // execute the INSERT: the file must open as parquet there, and
      // its column count must match the target's (INSERT .. SELECT *
      // binds positionally) — a failure here leaves the table intact
      val (srcCols, _, _) =
        try b.run(s"SELECT * FROM $src WHERE 1=0")
        catch { case e: Exception =>
          out(s"ERROR: cannot read $file on the server: ${e.getMessage}")
          return 1
        }
      val (_, tCols, _) = b.run(s"SHOW COLUMNS FROM $qualified")
      if (tCols.nonEmpty && srcCols.length != tCols.length) {
        out(s"ERROR: $file has ${srcCols.length} column(s) but " +
          s"$qualified has ${tCols.length} — not overwriting")
        return 1
      }
      b.run(s"DELETE FROM $qualified")
    }
    val (_, _, msg) = b.run(s"INSERT INTO $qualified SELECT * FROM $src")
    out(if (msg.nonEmpty) msg else s"imported $file into $qualified")
    0
  }

  /** SHOW TABLES rows arrive as (namespace, tableName, isTemporary)
    * from Spark or (name) from a minimal layout — take the name. */
  private def tableNameOf(r: Seq[Any]): String =
    (if (r.length >= 2) r(1) else r.head).toString

  private[graft] val usage: String =
    """usage: graft-client [--server host:port] [--database db] [--user u] <command>
      |  query "SQL"                          execute one statement
      |  shell                                interactive shell (default)
      |  import <file> --table t [--namespace ns] [--overwrite]
      |  table list | table describe <t> | table drop <t>
      |  catalog namespaces | catalog create-namespace <n> | catalog drop-namespace <n>""".stripMargin

  private def embeddedEngine(flags: Map[String, String]): QueryEngine = {
    val spark = graft.SparkTuning.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new QueryEngine(spark)
    flags.get("database").foreach(db => engine.execute(s"USE $db"))
    engine
  }

  // ------------------------------------------------------------ shell

  private def shellLoop(b: Backend): Unit = {
    println("graft shell - SQL terminated by ';'; help for commands")
    val history = scala.collection.mutable.ArrayBuffer[String]()
    eachStatement(history) { sql =>
      try {
        val t0 = System.nanoTime()
        val (cols, rows, msg) = b.run(sql)
        val sec = (System.nanoTime() - t0) / 1e9
        if (cols.nonEmpty) print(renderTable(cols, rows))
        if (msg.nonEmpty) println(msg)
        println(f"${rows.length} row(s) in $sec%.3f s")
      } catch {
        case e: Throwable => println(s"ERROR: ${e.getMessage}")
      }
    }
  }

  /** Statement reader: built-ins act on their own line (the
    * reference's shell specials, main.go:362-384); SQL accumulates
    * until ';'. */
  private def eachStatement(history: scala.collection.mutable.ArrayBuffer[String])
                           (run: String => Unit): Unit = {
    val buf = new StringBuilder
    var line: String = null
    var quit = false
    while (!quit &&
           { line = StdIn.readLine(if (buf.isEmpty) "graft> " else "    -> ")
             line != null }) {
      val trimmed = line.trim
      (if (buf.isEmpty) trimmed.toLowerCase else "") match {
        case "\\q" | "exit" | "quit" =>
          println("Goodbye!"); quit = true
        case "help" =>
          println("Available commands:")
          println("  exit, quit - Exit the shell")
          println("  help       - Show this help")
          println("  history    - Show command history")
          println("  clear      - Clear screen")
          println("  <SQL>;     - Execute SQL query")
        case "history" =>
          println("Command History:")
          history.zipWithIndex.foreach { case (h, i) => println(s"  ${i + 1}: $h") }
        case "clear" =>
          print("\u001b[H\u001b[2J")
        case _ =>
          buf.append(line).append('\n')
          if (trimmed.endsWith(";")) {
            val sql = buf.toString.trim.stripSuffix(";")
            buf.clear()
            if (sql.nonEmpty) {
              if (history.isEmpty || history.last != sql) history += sql
              run(sql)
            }
          }
      }
    }
  }

  /** Fixed-width table, mysql-client style. */
  private[graft] def renderTable(columns: Seq[String], data: Seq[Seq[Any]]): String = {
    val cells = data.map(_.map(v => if (v == null) "NULL" else v.toString))
    val widths = columns.indices.map { i =>
      (columns(i).length +: cells.map(_(i).length)).max
    }
    def rule = widths.map("-" * _).mkString("+-", "-+-", "-+\n")
    def row(vals: Seq[String]) = vals.zip(widths)
      .map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |\n")
    val sb = new StringBuilder(rule)
    sb ++= row(columns)
    sb ++= rule
    cells.foreach(c => sb ++= row(c))
    sb ++= rule
    sb.toString
  }
}
