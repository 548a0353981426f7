package graft.tools

/** Selective Verify: dump only the named queries (plus their oracle
  * SQL) for a local DuckDB cross-check while iterating — the full
  * [[graft.Verify]] runs all ~60 queries. Same session config, dump
  * loop, and JSON escaping as the driver gate ([[graft.Verify.dump]]).
  * Usage:
  *   runMain graft.tools.VerifySome <sfDir> <outDir> <q1> [q2 ...]
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: VerifySome <sfDir> <outDir> <q1> [q2 ...]")
    graft.Verify.dump(args(0), args(1), Some(args.drop(2).toSeq), verbose = true)
  }
}
