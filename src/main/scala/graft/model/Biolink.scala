package graft.model

/** Minimal vendored slice of the Biolink Model facts the engine needs
  * (SURVEY §7.5 risk 5). Constants mirror the reference's enumerations:
  * qualifiers   /root/reference/orion/biolink_constants.py:104-129
  * list props   /root/reference/orion/biolink_constants.py:214-221
  * required     /root/reference/orion/biolink_constants.py:207-212
  */
object Biolink {
  val Subject = "subject"
  val Object_ = "object"
  val Predicate = "predicate"
  val PrimaryKnowledgeSource = "primary_knowledge_source"
  val AggregatorKnowledgeSources = "aggregator_knowledge_source"
  val Sources = "sources" // TRAPI retrieval blocks
  val ResourceId = "resource_id"
  val ResourceRole = "resource_role"
  val SubclassOf = "biolink:subclass_of"
  val RelatedTo = "biolink:related_to"
  val NamedThing = "biolink:NamedThing"

  // knowledge-level / agent-type vocabulary
  // (ref orion/biolink_constants.py KNOWLEDGE_LEVEL/AGENT_TYPE enums)
  val KnowledgeLevel = "knowledge_level"
  val AgentType = "agent_type"
  val KnowledgeAssertion = "knowledge_assertion"
  val Prediction = "prediction"
  val NotProvided = "not_provided"
  val ManualAgent = "manual_agent"
  val AutomatedAgent = "automated_agent"
  val ComputationalModel = "computational_model"
  val ManualValidationOfAutomatedAgent = "manual_validation_of_automated_agent"
  val Publications = "publications"
  val Negated = "negated"

  val qualifierKeys: Set[String] = Set(
    "anatomical_context_qualifier", "causal_mechanism_qualifier",
    "context_qualifier", "derivative_qualifier", "disease_context_qualifier",
    "form_or_variant_qualifier", "object_aspect_qualifier",
    "object_context_qualifier", "object_derivative_qualifier",
    "object_direction_qualifier", "object_form_or_variant_qualifier",
    "object_part_qualifier", "object_specialization_qualifier",
    "population_context_qualifier", "qualified_predicate", "sex_qualifier",
    "specialization_qualifier", "species_context_qualifier",
    "subject_aspect_qualifier", "subject_context_qualifier",
    "subject_derivative_qualifier", "subject_direction_qualifier",
    "subject_form_or_variant_qualifier", "subject_part_qualifier",
    "subject_specialization_qualifier")

  def isQualifier(key: String): Boolean = qualifierKeys.contains(key)

  val listProps: Set[String] = Set(
    "equivalent_identifiers", "synonym", "category",
    "aggregator_knowledge_source", "publications", "xref")

  /** Keys never property-merged (merge key members + id),
    * ref orion/merging.py:66. */
  val mergeSkipKeys: Set[String] =
    Set("id", Subject, Object_, Predicate, PrimaryKnowledgeSource)

  /** Predicate → ancestor predicates (incl. self) for redundant-KG
    * expansion (ref orion/redundant_kg.py:28-31) — the full vendored slice
    * lives in [[BiolinkModel.predicateAncestors]] (~70 predicates). */
  val predicateAncestors: Map[String, Seq[String]] = BiolinkModel.predicateAncestors

  /** Symmetric predicates (ref orion/biolink_utils.py:158-164). */
  val symmetricPredicates: Set[String] = BiolinkModel.symmetricPredicates

  /** Qualifier value enum ancestors for redundant-KG permutations
    * (ref orion/redundant_kg.py:84-96): aspect/direction value → ancestors
    * incl. self. */
  val aspectAncestors: Map[String, Seq[String]] = Map(
    "activity" -> Seq("activity", "activity_or_abundance"),
    "abundance" -> Seq("abundance", "activity_or_abundance"),
    "expression" -> Seq("expression", "abundance", "activity_or_abundance"),
    "synthesis" -> Seq("synthesis", "abundance", "activity_or_abundance"),
    "degradation" -> Seq("degradation", "abundance", "activity_or_abundance"),
    "transport" -> Seq("transport"),
    "secretion" -> Seq("secretion", "transport"),
    "uptake" -> Seq("uptake", "transport"),
  )
  val directionAncestors: Map[String, Seq[String]] = Map(
    "increased" -> Seq("increased"),
    "upregulated" -> Seq("upregulated", "increased"),
    "decreased" -> Seq("decreased"),
    "downregulated" -> Seq("downregulated", "decreased"),
  )
}
