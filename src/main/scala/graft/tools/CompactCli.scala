package graft.tools

/** OPTIMIZE entry point: `runMain graft.tools.CompactCli <table-dir>
  * [targetMiB]` — packs a btr table's small files toward the target size
  * via footer-level merges (see [[graft.sources.BtrCompact]]).
  */
object CompactCli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CompactCli <btr-table-dir> [targetMiB]")
    val path = args(0)
    val targetBytes = (if (args.length > 1) args(1).toLong else 128L) * 1024 * 1024
    val (before, after) =
      Kit.withSession("btr-compact")(graft.sources.BtrCompact.compact(_, path, targetBytes))
    println(s"[compact] $path: $before files -> $after files (target ${targetBytes >> 20} MiB)")
  }
}
