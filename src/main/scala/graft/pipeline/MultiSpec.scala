package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}

/** Front end for the reference's `-multiple "outputDir|mapper|reducer"`
  * job specs (README example; parsed at MapStreamJob.java:266-278 and
  * fanned out one reduce job per spec by MultiStreamJobRunner.java:34-78).
  * Turns spec STRINGS into [[MultiPipeline]] branches, completing the
  * migration story: a reference user's CLI invocation maps 1:1 onto
  *
  * {{{
  * MultiSpec.pipeline(input, "line", Seq(
  *   "high|grep important|NONE",
  *   "counts|/bin/cat|/bin/wc",
  *   "scored|./score.py|./sum.py"), registry).write(outputHome)
  * }}}
  *
  * Each mapper/reducer command resolves, in order:
  *  1. a caller-supplied registry entry (named native stage — the
  *     Spark-first replacement for a rewritten script);
  *  2. a recognized common executable, re-expressed as the codegen'd
  *     native stage (`cat`, `wc`, `grep [-v] PAT`, `cut [-d SEP] -f LIST`,
  *     `NONE`/empty = identity, the Hadoop `-reducer NONE` convention) —
  *     but ONLY when the command carries no shell metacharacters: a
  *     command like `grep x || true` or `cat f > out` means something
  *     the builtin can't express, so it execs (rule 3) instead;
  *  3. anything else runs as a REAL child process: mappers through
  *     [[Pipes.exec]], reducers through [[Pipes.execReduce]] (key =
  *     first tab field, the Hadoop Streaming default) — the unmodified
  *     legacy binary keeps working.
  */
object MultiSpec {

  /** Named native stages, keyed by the command string in the spec. */
  type Registry = Map[String, Pipes.Pipe]

  final case class Spec(dirKey: String, mapper: String, reducer: String)

  /** Split on `|`, except inside double-quoted fields — a shell-pipeline
    * mapper like `"tr ' ' '\n' | sort"` quotes the whole field. (The
    * reference's splitter has no such escape; its README examples are
    * all pipe-free commands.)
    */
  def parse(spec: String): Spec = {
    val raw = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var inQuotes = false
    spec.foreach {
      case '"' => inQuotes = !inQuotes; cur += '"'
      case '|' if !inQuotes => raw += cur.result().trim; cur.clear()
      case ch => cur += ch
    }
    raw += cur.result().trim
    require(!inQuotes, s"unbalanced quotes in -multiple spec '$spec'")
    // strip ONE surrounding quote layer; quotes inside commands survive
    val parts = raw.map { f =>
      if (f.length >= 2 && f.head == '"' && f.last == '"')
        f.substring(1, f.length - 1)
      else f
    }
    require(parts.length == 2 || parts.length == 3,
      s"""bad -multiple spec '$spec': want "outputDir|mapper|reducer"""")
    require(parts(0).nonEmpty, s"empty outputDir in -multiple spec '$spec'")
    Spec(parts(0), parts(1), if (parts.length == 3) parts(2) else "NONE")
  }

  private val Grep = """grep\s+(.+)""".r
  private val GrepV = """grep\s+-v\s+(.+)""".r
  private val Cut = """cut\s+(?:-d\s*(\S+)\s+)?-f\s*([\d,]+)""".r
  private val Sed = """sed\s+s/([^/]+)/([^/]*)/g""".r

  /** Shell metacharacters that change a command's meaning under
    * `/bin/sh`. A command containing any of them must NOT resolve to a
    * builtin: `grep spark || true` is not a grep for the pattern
    * `spark || true` — as an rlike that empty alternation matches
    * EVERY row — and `cat foo > out` is not `cat`. Such commands take
    * the exec path, where the shell gives them their real semantics
    * (the reference always execs, so this is exactly its behavior).
    * Quotes count: a builtin would take them as literal pattern bytes,
    * the shell strips them.
    */
  private val ShellMeta: Set[Char] = "|&;<>()$`\\\"'*?[]{}~".toSet

  /** Resolve one command string to a stage over text column `c`.
    * `partitionKey`/`ship`/`archives` apply only to exec'd children —
    * the `-partitioner`, `-file` and `-archives` surfaces, meaningless
    * for native stages (Catalyst owns their partitioning; nothing to
    * ship).
    */
  def resolve(cmd: String, c: String, registry: Registry,
      asReducer: Boolean, env: Map[String, String] = Map.empty,
      partitionKey: Option[Column] = None,
      ship: Seq[String] = Nil,
      numPartitions: Option[Int] = None,
      archives: Seq[String] = Nil): Pipes.Pipe =
    registry.get(cmd).getOrElse {
      // "/bin/cat" and "cat" are one idiom — but strip the directory
      // prefix ONLY for absolute paths: a RELATIVE path with a slash is
      // archive-member addressing (`bundle.zip/grep PAT` runs the
      // bundled program, never the grep builtin) or an explicit local
      // script (`./score.py`), both of which must exec as-is
      val base = if (cmd.startsWith("/")) cmd.split("/").last else cmd
      // a real child process through a shell, so spec strings with
      // arguments/pipes work as they did under `-mapper`. Reducers get
      // the keyed+sorted stream contract.
      def exec: Pipes.Pipe = {
        val sh = Seq("/bin/sh", "-c", cmd)
        if (asReducer)
          Pipes.execReduce(c, "\t", 1, sh, env,
            partitionKey = partitionKey, numPartitions = numPartitions,
            ship = ship, archives = archives)
        else Pipes.exec(c, sh, env, ship = ship, archives = archives)
      }
      if (cmd.isEmpty || cmd == "NONE") Pipes.cat
      // shell syntax present — only the exec path gets it right
      else if (cmd.exists(ShellMeta)) exec
      else (base, cmd) match {
        case ("cat", _) => Pipes.cat
        case ("wc", _) => Pipes.wc(c)
        case (GrepV(pat), _) => Pipes.grepV(c, pat)
        case (Grep(pat), _) => Pipes.grep(c, pat)
        case (Cut(sep, fields), _) =>
          Pipes.cut(c, Option(sep).getOrElse("\t"),
            fields.split(",").toIndexedSeq.map(_.toInt))
        // match on the FULL command: sed's s/…/…/g contains slashes, so
        // the path-stripped `base` is meaningless for it
        case (_, Sed(pat, rep)) => Pipes.sed(c, pat, rep)
        case _ => exec
      }
    }

  /** Build the fan-out pipeline from `-multiple` spec strings; `env` is
    * the `-cmdenv` surface, applied to every exec'd child;
    * `partitionKey` is the `-partitioner` surface (MapStreamJob.java:
    * 863-871) — a custom key expression deciding which reduce partition
    * each record of an exec'd reducer lands in (must be a function of
    * `key`); `ship` is the `-file` surface, distributing local scripts
    * to every executor for the exec'd children.
    */
  def pipeline(input: DataFrame, c: String, specs: Seq[String],
      registry: Registry = Map.empty,
      env: Map[String, String] = Map.empty,
      partitionKey: Option[Column] = None,
      ship: Seq[String] = Nil,
      numPartitions: Option[Int] = None,
      archives: Seq[String] = Nil): MultiPipeline =
    specs.map(parse).foldLeft(MultiPipeline(input)) { (mp, sp) =>
      mp.branch(sp.dirKey)(
        resolve(sp.mapper, c, registry, asReducer = false, env,
            partitionKey, ship, archives = archives)
          .andThen(resolve(sp.reducer, c, registry, asReducer = true, env,
            partitionKey, ship, numPartitions, archives)))
    }
}
