package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.sys.process._

/** The benchmark's pinned inputs. Every tree is identified by its file
  * count and byte total; a missing or different tree stops the benchmark
  * with an error, it is never replaced by a smaller one. */
object Inputs {

  val PyenvRoot: String = sys.env.getOrElse("PYENV_ROOT", sys.props("user.home") + "/.pyenv")

  /** The test data the engine's gates read, under the user's home. */
  val TestData: Path = Paths.get(sys.props("user.home"), "testdata")

  def stdlib(version: String): Path =
    Paths.get(PyenvRoot, "versions", version, "lib", "python" + version.split('.').take(2).mkString("."))

  /** The `.py` files under `packages` of one pyenv stdlib. */
  final case class Tree(version: String, packages: Seq[String], files: Int, bytes: Long) {
    def root: Path = stdlib(version)

    /** (path relative to the stdlib root, file) in a fixed order. */
    def listing: Seq[(String, Path)] = packages.flatMap { pkg =>
      val dir = root.resolve(pkg)
      if (!Files.isDirectory(dir))
        throw new IllegalStateException(s"pinned corpus missing: $dir")
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".py"))
        .map(p => root.relativize(p).toString -> p).toVector
      finally s.close()
    }.sortBy(_._1)

    /** Check the tree against its pinned identity. */
    def verify(): Seq[(String, Path)] = {
      val l = listing
      val n = l.size
      val b = l.map(x => Files.size(x._2)).sum
      if (n != files || b != bytes)
        throw new IllegalStateException(
          s"pinned corpus $version:${packages.mkString(",")} differs: " +
            s"$n files / $b bytes, expected $files / $bytes")
      l
    }

    /** Copy the tree into `dest` (which becomes the analyzed folder). */
    def stage(dest: Path): Path = {
      verify().foreach { case (rel, src) =>
        val to = dest.resolve(rel)
        Files.createDirectories(to.getParent)
        Files.copy(src, to, StandardCopyOption.REPLACE_EXISTING)
      }
      dest
    }
  }

  /** The ingest/browse corpus: a fixed slice of the Python 3.10 stdlib. */
  val Corpus = Tree("3.10.13",
    Seq("asyncio", "email", "json", "http", "concurrent", "importlib", "xml",
      "multiprocessing"), files = 138, bytes = 1925119L)
  /** Its graph, recorded once from the engine and checked on every run. */
  val CorpusNodes = 5111L
  val CorpusEdges = 17374L

  /** A different, small tree that warms the JIT during set-up. */
  val WarmTree = Tree("3.10.13", Seq("wsgiref", "urllib"), files = 12, bytes = 214458L)

  // ---- the time-travel history --------------------------------------------

  /** One commit per stdlib version: that version's `asyncio` package. */
  val HistoryTrees = Seq(
    Tree("3.12.1", Seq("asyncio"), files = 33, bytes = 499015L),
    Tree("3.13.0", Seq("asyncio"), files = 33, bytes = 515852L))
  /** Full hashes of the commits, oldest first (fixed author and dates). */
  val HistoryHashes: Seq[String] = Seq(
    "f97da40afb33aaf5a5e1bf7c18cace2a4d73684e", "6140e8e40708063ed20332d0d0cb2b08df9c7fdd")

  private def gitEnv(home: Path, i: Int): Seq[(String, String)] = {
    val date = f"2021-01-${i + 1}%02dT12:00:00+0000"
    Seq("HOME" -> home.toString, "GIT_CONFIG_NOSYSTEM" -> "1",
      "GIT_CONFIG_GLOBAL" -> "/dev/null",
      "GIT_AUTHOR_NAME" -> "perfbench", "GIT_AUTHOR_EMAIL" -> "perfbench@localhost",
      "GIT_COMMITTER_NAME" -> "perfbench", "GIT_COMMITTER_EMAIL" -> "perfbench@localhost",
      "GIT_AUTHOR_DATE" -> date, "GIT_COMMITTER_DATE" -> date)
  }

  def git(repo: Path, env: Seq[(String, String)], args: String*): String =
    Process(Seq("git", "-C", repo.toString) ++ args, None, env: _*).!!

  /** Build the history repo at `repo`; returns its short hashes (the ones
    * the engine stores) oldest first, after checking the full hashes against
    * the pinned ones. */
  def buildHistory(repo: Path): Seq[String] = {
    Files.createDirectories(repo)
    val home = repo.getParent
    git(repo, gitEnv(home, 0), "init", "-q")
    HistoryTrees.zipWithIndex.foreach { case (tree, i) =>
      val env = gitEnv(home, i)
      val pkg = repo.resolve("asyncio")
      if (Files.exists(pkg)) git(repo, env, "rm", "-r", "-q", "asyncio")
      tree.stage(repo)
      git(repo, env, "add", "-A")
      git(repo, env, "commit", "-q", "-m", s"asyncio from Python ${tree.version}")
    }
    def log(format: String): Seq[String] =
      git(repo, gitEnv(home, 0), "log", "--first-parent", s"--format=$format")
        .linesIterator.filter(_.nonEmpty).toSeq.reverse
    val full = log("%H")
    if (full != HistoryHashes)
      throw new IllegalStateException(
        s"history hashes ${full.mkString(",")} differ from pinned ${HistoryHashes.mkString(",")}")
    log("%h")
  }

  /** `git ls-tree` of a commit: the repo-relative paths of its files. */
  def lsTree(repo: Path, commit: String): Set[String] =
    git(repo, gitEnv(repo.getParent, 0), "ls-tree", "-r", "--name-only", commit)
      .linesIterator.filter(_.nonEmpty).toSet
}
