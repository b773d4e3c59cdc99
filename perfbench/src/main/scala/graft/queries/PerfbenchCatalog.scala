package graft.queries

/** The corpus constants the q104 offer blobs are built from, read
  * (not copied) from [[KernelOps]] so the benchmark's input generator
  * builds exactly the blobs q104's oracle replays. */
object PerfbenchCatalog {
  def constants: Seq[(String, Seq[String])] = Seq(
    "companies" -> KernelOps.Companies,
    "contract_markers" -> KernelOps.ContractMarkers,
    "skill_suffixes" -> KernelOps.SkillSuffixes,
    "desc_text" -> Seq(KernelOps.DescText),
    "req_text" -> Seq(KernelOps.ReqText))
}
