"""Prompt-construction operators C1-C3, C7, C8 (SURVEY.md §2.3).

The reference assembles prompts by string concatenation on a mutable
``Algorithm`` object (`algorithms.py:186-219,453-541`). Here the
prompt template is resolved ONCE at the driver into an immutable
:class:`PromptSpec` (or :class:`VerifySpec`); the fused extraction and
verification ``mapInPandas`` stages close over it, so the constant
template travels once per task and only the paragraph varies per row.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Template fragments mirroring the reference's Config strings
# (`algorithms.py:426-552`): a task definition, a format instruction,
# and few-shot exemplars already rendered in the numbered
# ``entity | True/False | explanation (type)`` answer format.
DEFAULT_DEFN = (
    "An entity is a data-processing system, operator, structure, actor or "
    "source named in the paragraph."
)
DEFAULT_FORMAT_TASK = (
    "Q: Given the paragraph below, identify a list of possible entities "
    "and for each entry explain why it either is or is not an entity. "
    "Answer in the format: number. entity | True/False | explanation (type)"
)
TYPE_Q = (
    "Q: Given the paragraph below and the entity phrase, identify what "
    "type of entity it is."
)
DISPUTE_Q = (
    "Q: Given the paragraph below, the entity phrase and two proposed "
    "entity types, choose the more accurate type."
)


@dataclass(frozen=True)
class PromptSpec:
    """The frozen outcome of the reference's ``Config.set_config``
    4-bool matrix (`algorithms.py:453-541`): definition on/off,
    exemplars on/off, CoT on/off, true/false-format on/off — resolved
    into plain strings at the driver and broadcast as literals.
    :func:`set_config` builds the matrix cell; direct construction
    gives the default (defn=T, exemplar=T, coT=T, tf=T) shape."""

    defn: str = DEFAULT_DEFN
    format_task: str = DEFAULT_FORMAT_TASK
    exemplars: tuple[str, ...] = field(default_factory=tuple)
    use_defn: bool = True
    use_exemplars: bool = True
    # the bare task sentence (no format block) — the reference's
    # ``whole_task``, used as the chat system turn when exemplars are
    # on (`algorithms.py:204`); '' falls back to format_task
    whole_task: str = ""

    def prefix(self) -> str:
        """Everything before the paragraph (`algorithms.py:186-194`)."""
        parts: list[str] = []
        if self.use_defn and self.defn:
            parts.append(self.defn)
        if self.format_task:
            parts.append(self.format_task)
        if self.use_exemplars and self.exemplars:
            parts.extend(self.exemplars)
        return "\n".join(parts) + "\nParagraph: "

    SUFFIX = " \nAnswer:"


# ------------------------------------------------- C1 set_config matrix
# Answer-format blocks, one per (coT, tf) cell of the reference's
# Config (`algorithms.py:427-451`) — parity prompt text, same role.
COT_FORMAT = (
    "Format:\n\n"
    "1. First Candidate | True | Explanation why the word is an entity "
    "(entity_type)\n"
    "2. Second Candidate | False | Explanation why the word is not an "
    "entity (entity_type)")
NO_TF_FORMAT = (
    "1. First Entity | Explanation why the word is an entity "
    "(entity_type)\n"
    "2. Second Entity | Explanation why the word is not an entity "
    "(entity_type)")
TF_FORMAT = (
    "Format:\n\n"
    "1. First Candidate | True | (entity_type)\n"
    "2. Second Candidate | False | (entity_type)")
EXEMPLAR_FORMAT = (
    "Format:\n\n"
    "1. First Entity | (entity_type)\n"
    "2. Second Entity | (entity_type)")

# Task sentences per (coT, tf) (`algorithms.py:489-540`).
TASK_COT_TF = ("Q: Given the paragraph below, identify a list of possible "
               "entities and for each entry explain why it either is or is "
               "not an entity.")
TASK_COT_NOTF = ("Q: Given the paragraph below, identify a list of entities "
                 "and for each entry explain why it is an entity.")
TASK_PLAIN = "Q: Given the paragraph below, identify the list of entities"


@dataclass(frozen=True)
class ExemplarFamilies:
    """The four exemplar families a reference dataset Config carries
    (`cot_exemplars` / `no_tf_exemplars` / `tf_exemplars` /
    `exemplars`, `algorithms.py:508-541`) — each exemplar a
    ``Paragraph ...\\nAnswer:\\n1. ...`` block in that family's answer
    format."""

    cot: tuple[str, ...] = ()
    no_tf: tuple[str, ...] = ()
    tf: tuple[str, ...] = ()
    plain: tuple[str, ...] = ()

    def pick(self, coT: bool, tf: bool) -> tuple[str, ...]:
        if coT:
            return self.cot if tf else self.no_tf
        return self.tf if tf else self.plain


def set_config(
    defn_text: str = DEFAULT_DEFN,
    families: ExemplarFamilies | None = None,
    exemplar: bool = True,
    coT: bool = True,
    tf: bool = True,
    defn: bool = True,
) -> PromptSpec:
    """The reference's ``Config.set_config`` 16-cell matrix
    (`algorithms.py:453-541`) resolved into a frozen PromptSpec.

    - without exemplars: format_task = task sentence + the (coT, tf)
      format block (`algorithms.py:486-506`);
    - with exemplars: the task sentence is interleaved before each
      exemplar of the (coT, tf) family and repeated once more ahead of
      the final paragraph (`algorithms.py:507-541`) — rendered here
      into the exemplar tuple + format_task, keeping the engine's
      uniform ``Paragraph:`` marker (the completion/chat renderers and
      the golden replay pin the default cell byte-exactly).
    """
    families = families or ExemplarFamilies()
    if coT:
        task = TASK_COT_TF if tf else TASK_COT_NOTF
        fmt = COT_FORMAT if tf else NO_TF_FORMAT
    else:
        task = TASK_PLAIN
        fmt = TF_FORMAT if tf else EXEMPLAR_FORMAT
    if not exemplar:
        return PromptSpec(
            defn=defn_text if defn else "",
            format_task=task + " Answer in the format:\n" + fmt,
            exemplars=(), use_defn=defn, use_exemplars=False)
    family = families.pick(coT, tf)
    rendered = tuple(task + "\n" + ex for ex in family)
    return PromptSpec(
        defn=defn_text if defn else "",
        format_task=task + " Answer in the format:\n" + fmt,
        exemplars=rendered, use_defn=defn, use_exemplars=True,
        whole_task=task)


@dataclass(frozen=True)
class VerifySpec:
    """C7/C8 prompt configuration — the reference ``set_config``
    MultiAlgorithm branch (`algorithms.py:455-476`): a definition, a
    type task with few-shot ``type_exemplars`` interleaved before the
    final query, and a dispute task with ``dispute_exemplars``
    likewise (``exemplar_construction`` loops). The default (no defn,
    no exemplars) renders byte-identically to the bare templates the
    oracle queries pin."""

    defn: str = ""
    type_exemplars: tuple[str, ...] = ()
    dispute_exemplars: tuple[str, ...] = ()

    def _assemble(self, task: str, exemplars: tuple[str, ...],
                  text: str, afterphrase: str) -> str:
        parts: list[str] = []
        if self.defn:
            parts.append(self.defn)
        for ex in exemplars:   # exemplar_construction (`algorithms.py:462-466`)
            parts.append(task)
            parts.append(ex)
        parts.append(task)
        return ("\n".join(parts)
                + f"\nParagraph: {text} \n{afterphrase} \nAnswer:")

    def type_prompt(self, text: str, surface: str) -> str:
        return self._assemble(TYPE_Q, self.type_exemplars, text,
                              f"Entity Phrase: {surface}")

    def dispute_prompt(self, text: str, surface: str,
                       o1: str, o2: str) -> str:
        return self._assemble(
            DISPUTE_Q, self.dispute_exemplars, text,
            f"Entity Phrase: {surface}, Options: ({o1}), ({o2})")


def type_verify_prompt_str(text: str, surface: str) -> str:
    """C7 as a plain string — the form used inside the fused
    verify+dispute ``mapInPandas`` stage (the template travels once in
    the task closure, not per-row through Arrow)."""
    return (f"{TYPE_Q}\nParagraph: {text} \nEntity Phrase: {surface}"
            " \nAnswer:")


def dispute_prompt_str(text: str, surface: str, o1: str, o2: str) -> str:
    """C8 as a plain string (`algorithms.py:387-395,468-476`); option
    order is (first opinion, verifier opinion), matching
    ``resolve_dispute(answer, types, other_types)``."""
    return (f"{DISPUTE_Q}\nParagraph: {text} \nEntity Phrase: {surface},"
            f" Options: ({o1}), ({o2}) \nAnswer:")


CHATBOT_INIT = "You are an entity recognition system. "


def chat_message_prefix(spec: PromptSpec) -> list[tuple[str, str]]:
    """C1+C3 (`algorithms.py:202-219`): the constant part of the chat
    transcript — system turn (``chatbot_init + defn + format_task``,
    `algorithms.py:204`) plus each exemplar split at ``"Answer:"``
    into a (user, assistant) pair (`algorithms.py:206-211`). Returned
    as ``[(content, role)]`` like the reference's message tuples
    (`models.py:22-25`); build once at the driver and close over it in
    the inference UDF — only the final user turn varies per row."""
    task = (spec.whole_task
            if spec.use_exemplars and spec.exemplars and spec.whole_task
            else spec.format_task)
    msgs: list[tuple[str, str]] = [
        (CHATBOT_INIT + spec.defn + "\n" + task, "system")]
    for ex in spec.exemplars:
        head, _, tail = ex.partition("Answer:")
        msgs.append((head, "user"))
        msgs.append(("Answer:" + tail, "assistant"))
    return msgs


def chat_user_turn(paragraph: str) -> tuple[str, str]:
    """The per-row final user turn (`algorithms.py:212`)."""
    return ("\nParagraph: " + paragraph + " \nAnswer:", "user")
