package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vendored slice of the public Biolink Model hierarchy (categories and
  * predicates), replacing round-1's 15-entry fragment.
  *
  * The reference loads the full model YAML through bmt at run time
  * (orion/biolink_utils.py:13-17) and computes:
  *  - leaf categories: drop set members that are ancestors of other
  *    members (find_biolink_leaves, biolink_utils.py:44-60);
  *  - predicate ancestors for redundant-KG expansion
  *    (redundant_kg.py:28-31);
  *  - inverses + symmetric reflection (biolink_utils.py:68-80).
  *
  * This is a hand-vendored DAG of the commonly-used classes/slots (no
  * network in this engine); intermediate mixin layers are collapsed where
  * they carry no modelling weight, and ancestors are transitively complete
  * WITHIN the slice. Unknown elements: the reference treats unknown as
  * invalid (full model in memory); here unknown more likely means
  * "not vendored", so leaf computation KEEPS unknown categories and QC
  * flags them separately (isKnownCategory).
  */
object BiolinkModel {

  /** category → direct parents (is_a + load-bearing mixins). */
  private val categoryParents: Map[String, Seq[String]] = Map(
    "biolink:NamedThing" -> Nil,
    // biological entities
    "biolink:BiologicalEntity" -> Seq("biolink:NamedThing"),
    "biolink:DiseaseOrPhenotypicFeature" -> Seq("biolink:BiologicalEntity"),
    "biolink:Disease" -> Seq("biolink:DiseaseOrPhenotypicFeature"),
    "biolink:PhenotypicFeature" -> Seq("biolink:DiseaseOrPhenotypicFeature"),
    "biolink:BehavioralFeature" -> Seq("biolink:PhenotypicFeature"),
    "biolink:GenomicEntity" -> Nil, // mixin
    "biolink:MacromolecularMachineMixin" -> Nil, // mixin
    "biolink:GeneOrGeneProduct" -> Seq("biolink:MacromolecularMachineMixin"),
    "biolink:GeneProductMixin" -> Seq("biolink:GeneOrGeneProduct"),
    "biolink:Gene" -> Seq("biolink:BiologicalEntity", "biolink:GenomicEntity", "biolink:GeneOrGeneProduct"),
    "biolink:GeneFamily" -> Seq("biolink:BiologicalEntity"),
    "biolink:Polypeptide" -> Seq("biolink:BiologicalEntity"),
    "biolink:Protein" -> Seq("biolink:Polypeptide", "biolink:GeneProductMixin"),
    "biolink:ProteinFamily" -> Seq("biolink:BiologicalEntity"),
    "biolink:ProteinDomain" -> Seq("biolink:BiologicalEntity"),
    "biolink:SequenceVariant" -> Seq("biolink:BiologicalEntity", "biolink:GenomicEntity"),
    "biolink:Genome" -> Seq("biolink:BiologicalEntity", "biolink:GenomicEntity"),
    "biolink:Exon" -> Seq("biolink:BiologicalEntity", "biolink:GenomicEntity"),
    "biolink:Transcript" -> Seq("biolink:BiologicalEntity", "biolink:GenomicEntity"),
    "biolink:RNAProduct" -> Seq("biolink:Transcript", "biolink:GeneProductMixin"),
    "biolink:MicroRNA" -> Seq("biolink:RNAProduct"),
    "biolink:Haplotype" -> Seq("biolink:BiologicalEntity", "biolink:GenomicEntity"),
    // chemicals
    "biolink:ChemicalEntity" -> Seq("biolink:NamedThing"),
    "biolink:MolecularEntity" -> Seq("biolink:ChemicalEntity"),
    "biolink:SmallMolecule" -> Seq("biolink:MolecularEntity"),
    "biolink:NucleicAcidEntity" -> Seq("biolink:MolecularEntity", "biolink:GenomicEntity"),
    "biolink:ChemicalMixture" -> Seq("biolink:ChemicalEntity"),
    "biolink:MolecularMixture" -> Seq("biolink:ChemicalMixture"),
    "biolink:ComplexMolecularMixture" -> Seq("biolink:ChemicalMixture"),
    "biolink:Drug" -> Seq("biolink:MolecularMixture"),
    // organisms / anatomy
    "biolink:OrganismalEntity" -> Seq("biolink:BiologicalEntity"),
    "biolink:IndividualOrganism" -> Seq("biolink:OrganismalEntity"),
    "biolink:PopulationOfIndividualOrganisms" -> Seq("biolink:OrganismalEntity"),
    "biolink:Cohort" -> Seq("biolink:PopulationOfIndividualOrganisms"),
    "biolink:OrganismTaxon" -> Seq("biolink:NamedThing"),
    "biolink:AnatomicalEntity" -> Seq("biolink:OrganismalEntity"),
    "biolink:GrossAnatomicalStructure" -> Seq("biolink:AnatomicalEntity"),
    "biolink:Cell" -> Seq("biolink:AnatomicalEntity"),
    "biolink:CellularComponent" -> Seq("biolink:AnatomicalEntity"),
    // processes
    "biolink:BiologicalProcessOrActivity" -> Seq("biolink:BiologicalEntity"),
    "biolink:BiologicalProcess" -> Seq("biolink:BiologicalProcessOrActivity"),
    "biolink:MolecularActivity" -> Seq("biolink:BiologicalProcessOrActivity"),
    "biolink:Pathway" -> Seq("biolink:BiologicalProcess"),
    "biolink:PhysiologicalProcess" -> Seq("biolink:BiologicalProcess"),
    "biolink:Behavior" -> Seq("biolink:BiologicalProcess"),
    // information entities & misc
    "biolink:InformationContentEntity" -> Seq("biolink:NamedThing"),
    "biolink:Publication" -> Seq("biolink:InformationContentEntity"),
    "biolink:Article" -> Seq("biolink:Publication"),
    "biolink:JournalArticle" -> Seq("biolink:Article"),
    "biolink:Activity" -> Seq("biolink:NamedThing"),
    "biolink:Procedure" -> Seq("biolink:NamedThing"),
    "biolink:Device" -> Seq("biolink:NamedThing"),
    "biolink:Event" -> Seq("biolink:NamedThing"),
    "biolink:Phenomenon" -> Seq("biolink:NamedThing"),
    "biolink:GeographicLocation" -> Seq("biolink:NamedThing"))

  /** predicate → direct parents (is_a slice). */
  private val predicateParents: Map[String, Seq[String]] = Map(
    "biolink:related_to" -> Nil,
    "biolink:related_to_at_concept_level" -> Seq("biolink:related_to"),
    "biolink:related_to_at_instance_level" -> Seq("biolink:related_to"),
    // concept-level
    "biolink:subclass_of" -> Seq("biolink:related_to_at_concept_level"),
    "biolink:superclass_of" -> Seq("biolink:related_to_at_concept_level"),
    "biolink:close_match" -> Seq("biolink:related_to_at_concept_level"),
    "biolink:exact_match" -> Seq("biolink:close_match"),
    "biolink:same_as" -> Seq("biolink:exact_match"),
    "biolink:broad_match" -> Seq("biolink:related_to_at_concept_level"),
    "biolink:narrow_match" -> Seq("biolink:related_to_at_concept_level"),
    // affects / causal
    "biolink:affects" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:affects_response_to" -> Seq("biolink:affects"),
    "biolink:regulates" -> Seq("biolink:affects"),
    "biolink:positively_regulates" -> Seq("biolink:regulates"),
    "biolink:negatively_regulates" -> Seq("biolink:regulates"),
    "biolink:disrupts" -> Seq("biolink:affects"),
    "biolink:prevents" -> Seq("biolink:affects"),
    "biolink:contributes_to" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:causes" -> Seq("biolink:contributes_to"),
    // interaction
    "biolink:interacts_with" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:physically_interacts_with" -> Seq("biolink:interacts_with"),
    "biolink:directly_physically_interacts_with" -> Seq("biolink:physically_interacts_with"),
    "biolink:indirectly_physically_interacts_with" -> Seq("biolink:physically_interacts_with"),
    "biolink:genetically_interacts_with" -> Seq("biolink:interacts_with"),
    "biolink:binds" -> Seq("biolink:directly_physically_interacts_with"),
    // association / correlation
    "biolink:associated_with" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:correlated_with" -> Seq("biolink:associated_with"),
    "biolink:positively_correlated_with" -> Seq("biolink:correlated_with"),
    "biolink:negatively_correlated_with" -> Seq("biolink:correlated_with"),
    "biolink:coexpressed_with" -> Seq("biolink:correlated_with"),
    "biolink:occurs_together_in_literature_with" -> Seq("biolink:associated_with"),
    "biolink:gene_associated_with_condition" -> Seq("biolink:associated_with"),
    "biolink:condition_associated_with_gene" -> Seq("biolink:associated_with"),
    "biolink:biomarker_for" -> Seq("biolink:associated_with"),
    "biolink:has_biomarker" -> Seq("biolink:associated_with"),
    // treatment
    "biolink:treats_or_applied_or_studied_to_treat" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:applied_to_treat" -> Seq("biolink:treats_or_applied_or_studied_to_treat"),
    "biolink:studied_to_treat" -> Seq("biolink:treats_or_applied_or_studied_to_treat"),
    "biolink:treats" -> Seq("biolink:treats_or_applied_or_studied_to_treat"),
    "biolink:treated_by" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:contraindicated_in" -> Seq("biolink:related_to_at_instance_level"),
    // mereology / location
    "biolink:overlaps" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:part_of" -> Seq("biolink:overlaps"),
    "biolink:has_part" -> Seq("biolink:overlaps"),
    "biolink:located_in" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:expressed_in" -> Seq("biolink:located_in"),
    "biolink:expresses" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:occurs_in" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:coexists_with" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:colocalizes_with" -> Seq("biolink:coexists_with"),
    "biolink:in_taxon" -> Seq("biolink:related_to_at_instance_level"),
    // gene/product & sequence
    "biolink:gene_product_of" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:has_gene_product" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:transcribed_from" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:transcribed_to" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:translates_to" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:translation_of" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:derives_from" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:derives_into" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:develops_from" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:develops_into" -> Seq("biolink:related_to_at_instance_level"),
    // participation / phenotype
    "biolink:participates_in" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:has_participant" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:has_input" -> Seq("biolink:has_participant"),
    "biolink:has_output" -> Seq("biolink:has_participant"),
    "biolink:enables" -> Seq("biolink:participates_in"),
    "biolink:enabled_by" -> Seq("biolink:has_participant"),
    "biolink:actively_involved_in" -> Seq("biolink:participates_in"),
    "biolink:has_phenotype" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:phenotype_of" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:disease_has_basis_in" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:similar_to" -> Seq("biolink:related_to_at_instance_level"),
    "biolink:homologous_to" -> Seq("biolink:similar_to"),
    "biolink:orthologous_to" -> Seq("biolink:homologous_to"),
    "biolink:paralogous_to" -> Seq("biolink:homologous_to"))

  /** Transitive ancestors: self first, then BFS upward, deduped. */
  private def ancestorClosure(parents: Map[String, Seq[String]]): Map[String, Seq[String]] =
    parents.keys.map { k =>
      val seen = scala.collection.mutable.LinkedHashSet[String](k)
      var frontier = parents(k)
      while (frontier.nonEmpty) {
        val next = frontier.filterNot(seen.contains)
        seen ++= next
        frontier = next.flatMap(p => parents.getOrElse(p, Nil))
      }
      k -> seen.toSeq
    }.toMap

  val categoryAncestors: Map[String, Seq[String]] = ancestorClosure(categoryParents)
  val predicateAncestors: Map[String, Seq[String]] = ancestorClosure(predicateParents)

  def isKnownCategory(c: String): Boolean = categoryParents.contains(c)
  /** Every category the model knows (sorted) — the biolink-compliant set
    * lenient normalization checks node types against. */
  val knownCategories: Seq[String] = categoryParents.keys.toSeq.sorted

  /** Symmetric predicates (invert to themselves, biolink_utils.py:73-76). */
  val symmetricPredicates: Set[String] = Set(
    "biolink:related_to", "biolink:interacts_with",
    "biolink:physically_interacts_with",
    "biolink:directly_physically_interacts_with",
    "biolink:indirectly_physically_interacts_with",
    "biolink:genetically_interacts_with", "biolink:binds",
    "biolink:associated_with", "biolink:correlated_with",
    "biolink:positively_correlated_with", "biolink:negatively_correlated_with",
    "biolink:coexpressed_with", "biolink:occurs_together_in_literature_with",
    "biolink:coexists_with", "biolink:colocalizes_with",
    "biolink:close_match", "biolink:exact_match", "biolink:same_as",
    "biolink:overlaps", "biolink:similar_to", "biolink:homologous_to",
    "biolink:orthologous_to", "biolink:paralogous_to")

  /** Asymmetric inverse pairs (both directions registered). */
  val inversePairs: Seq[(String, String)] = Seq(
    "biolink:subclass_of" -> "biolink:superclass_of",
    "biolink:part_of" -> "biolink:has_part",
    "biolink:affected_by" -> "biolink:affects",
    "biolink:caused_by" -> "biolink:causes",
    "biolink:treated_by" -> "biolink:treats",
    "biolink:phenotype_of" -> "biolink:has_phenotype",
    "biolink:expresses" -> "biolink:expressed_in",
    "biolink:condition_associated_with_gene" -> "biolink:gene_associated_with_condition",
    "biolink:gene_product_of" -> "biolink:has_gene_product",
    "biolink:transcribed_from" -> "biolink:transcribed_to",
    "biolink:translation_of" -> "biolink:translates_to",
    "biolink:derives_from" -> "biolink:derives_into",
    "biolink:develops_from" -> "biolink:develops_into",
    "biolink:participates_in" -> "biolink:has_participant",
    "biolink:enabled_by" -> "biolink:enables",
    "biolink:broad_match" -> "biolink:narrow_match",
    "biolink:has_biomarker" -> "biolink:biomarker_for")

  /** invert_predicate semantics (biolink_utils.py:68-80): symmetric →
    * itself; paired → inverse; unknown → None. */
  def invertPredicate(p: String): Option[String] =
    if (symmetricPredicates.contains(p)) Some(p)
    else inversePairs.collectFirst {
      case (a, b) if a == p => b
      case (a, b) if b == p => a
    }

  /** find_biolink_leaves (biolink_utils.py:44-60): drop members that are
    * strict ancestors of other members. Unknown members are KEPT (see
    * class doc — the vendored model is a subset). */
  def findBiolinkLeaves(categories: Set[String]): Set[String] = {
    val ancestry = categories.flatMap(c =>
      categoryAncestors.getOrElse(c, Seq(c)).drop(1)) // strict ancestors
    categories -- ancestry
  }

  /** Column form of findBiolinkLeaves over a category array (order
    * preserved), for the meta-KG/QC plane. Pure expression: the ancestor
    * table rides along as a map literal (~100 entries). */
  def leafCategories(categories: Column): Column = {
    val ancMap = typedlit(categoryAncestors.map { case (k, v) => k -> v.drop(1) })
    filter(categories, c =>
      !exists(categories, other =>
        other =!= c && array_contains(coalesce(element_at(ancMap, other), array()), c)))
  }
}
