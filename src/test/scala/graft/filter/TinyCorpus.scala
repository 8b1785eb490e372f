package graft.filter

import java.nio.file.Files

import graft.SparkSpec
import graft.fixtures.Corpus
import graft.jobs.BuildFixtures

/** The 2000-row corpus the golden labels were made from:
  * `fixtures/data/corpus_tiny` when BuildFixtures has written it, else the
  * same deterministic `Corpus.genRow` rows generated once per JVM into a
  * temp dir, so the north-rule specs never depend on a gitignored build
  * step.
  */
object TinyCorpus {
  lazy val path: String =
    if (new java.io.File(BuildFixtures.CorpusTinyPath).exists())
      BuildFixtures.CorpusTinyPath
    else {
      val p = s"${Files.createTempDirectory("graft_corpus_tiny")}/corpus"
      Corpus.writeCorpus(SparkSpec.session, BuildFixtures.TinyRows, p)
      p
    }
}
