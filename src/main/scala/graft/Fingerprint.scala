package graft

/** Content-keyed fingerprints for the fixture/index caches.
  *
  * Keyed by file NAME + LENGTH + a content sample (md5 of the first,
  * middle and last 64 KB), NOT mtime: regenerated-but-identical source
  * tables (the per-round testdata refresh) keep their fingerprint, so
  * warm caches survive across benchmark rounds instead of rebuilding
  * every fixture for nothing. For parquet the tail sample alone already
  * pins schema, row-group offsets and column stats (the footer); the
  * middle block extends the guarantee to ANY file format a caller
  * fingerprints — a same-length interior edit with unchanged head/tail
  * (e.g. a text corpus with a fixed header/footer) still rekeys.
  */
object Fingerprint {

  private val SAMPLE = 65536L

  /** md5 over the first, middle and last 64 KB (whole file when the
    * regions overlap — every byte of a <=128 KB file is hashed). */
  def ofFile(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val len = f.length()
    val in = new java.io.RandomAccessFile(f, "r")
    try {
      def region(start: Long, end: Long): Unit = {
        val buf = new Array[Byte]((end - start).toInt)
        in.seek(start)
        in.readFully(buf)
        md.update(buf)
      }
      region(0L, math.min(SAMPLE, len))
      if (len > 2 * SAMPLE) {
        // middle block, clamped so it never re-reads head or tail bytes
        val mid0 = math.max(SAMPLE, len / 2 - SAMPLE / 2)
        val mid1 = math.min(len - SAMPLE, mid0 + SAMPLE)
        if (mid1 > mid0) region(mid0, mid1)
      }
      if (len > SAMPLE) region(math.max(SAMPLE, len - SAMPLE), len)
    } finally in.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  /** `name:length:sample|...` over a table's files, RECURSING into
    * subdirectories (Hive-style `key=value` partition layouts, bucketed
    * stores): each directory contributes a `dir:<name>` marker and its
    * children in sorted order, so a nested part file can never be
    * silently invisible to the key (a flat listing used to fingerprint
    * only top-level files — a partitioned source would have reused
    * stale caches after a partition rewrite). A missing path
    * contributes a stable `absent` marker instead of throwing — layout
    * planning may fingerprint a source that is only about to exist. */
  def ofTable(dirOrFile: java.io.File): String = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isFile) Seq(s"${f.getName}:${f.length}:${ofFile(f)}")
      else Option(f.listFiles()) match {
        case None => Seq(s"${f.getName}:absent")
        case Some(kids) =>
          s"dir:${f.getName}" +: kids.sortBy(_.getName).toSeq.flatMap(walk)
      }
    walk(dirOrFile).mkString("|")
  }

  /** 128-bit hex digest of an arbitrary cache-key string. */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Fingerprint of the compiled `graft` bytecode on the classpath:
    * folded into every artifact cache key
    * ([[graft.queries.Pipeline.artifactDir]]) so a CODE change can never
    * reuse an artifact built by older machinery. Any change to any
    * `graft` class file (the builder lambdas in the `queries` package
    * included — they ARE the recipe) rekeys the whole cache, so no
    * artifact key carries a hand-bumped version.
    *
    * Computed once per JVM from the code-source location (the
    * `target/scala-2.13/classes` dir under sbt, the jar when packaged)
    * with the same name+length+content-sample walk the corpus keys use.
    * [[testOverride]] (thread-confined) lets specs pin the
    * rekey-on-code-change contract without recompiling.
    */
  def machinery: String =
    testOverride.value.getOrElse(machineryDefault)

  /** Spec-only override, a DynamicVariable so it is confined to the
    * overriding thread: a global system property here let a spec's
    * temporary fingerprint leak into concurrently-running suites'
    * cachedArtifact calls mid-run, flipping their cache keys (ADVICE
    * r14). */
  private[graft] val testOverride =
    new scala.util.DynamicVariable[Option[String]](None)

  private lazy val machineryDefault: String = {
    // a non-file code-source URL (jar:/nested classloader) must degrade
    // like the no-code-source branch, not throw out of the lazy val and
    // fail every cachedArtifact call (ADVICE r14)
    val src = Option(getClass.getProtectionDomain.getCodeSource)
      .flatMap(cs =>
        scala.util.Try(new java.io.File(cs.getLocation.toURI)).toOption)
    src match {
      case Some(f) if f.isDirectory =>
        md5hex("machinery#" + ofTable(new java.io.File(f, "graft"))).take(12)
      case Some(f) =>
        md5hex("machinery#" + ofTable(f)).take(12)
      case None =>
        // an exotic classloader with no (or a non-file) code source:
        // fall back to corpus-only keying, loudly — silent is how
        // staleness hides
        System.err.println(
          "[graft] WARNING: no usable code source for machinery " +
            "fingerprint; artifact caches will not rekey on code changes")
        "nocodesource"
    }
  }
}
