package graft.perfbench

/** corpus_lifecycle: one document corpus kept deduplicated and served.
  * Each loop step is one round of the index lifecycle (serve a BM25
  * and an IVF-PQ batch, append and tombstone a batch on both stores,
  * compact both stores) followed by one near-duplicate pass over
  * the mixed-length corpus.  Every round has the same op mix, so the
  * pooled metrics do not depend on how many rounds fit in a run.
  */
final class CorpusLifecycle(ctx: Ctx) extends Workload {
  private val index = new IndexLifecycle(ctx)
  private val dedup = new CorpusDedup(ctx)
  override def warmUp(): Unit = { index.warmUp(); dedup.warmUp() }
  override def step(i: Int): Boolean = index.step(i) && dedup.step(i)
  override def finish(): Unit = { index.finish(); dedup.finish() }
}
