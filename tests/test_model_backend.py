"""RetryingBackend (M3) semantics: bounded retry with backoff, and
failures become visible sentinel rows (never dropped — the reference
swallows them via a bare IndexError, `run.py:43-44`)."""

from __future__ import annotations


class Flaky:
    def __init__(self, fail_times: int):
        self.fail_times = fail_times
        self.calls = 0

    def generate(self, prompts):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise RuntimeError("rate limited")
        return [f"ok:{p}" for p in prompts]


def test_retry_succeeds_after_transient_failures():
    from promptner_spark.operators.model import RetryingBackend

    sleeps = []
    rb = RetryingBackend(Flaky(2), retries=3, backoff_s=0.5,
                         sleep=sleeps.append)
    assert rb.generate(["a", "b"]) == ["ok:a", "ok:b"]
    assert sleeps == [0.5, 1.0]  # exponential-ish backoff, no real sleep


def test_exhausted_retries_yield_error_rows_not_drops():
    from promptner_spark.operators.model import RetryingBackend
    from promptner_spark.operators.parse import predict_tags

    rb = RetryingBackend(Flaky(99), retries=2, backoff_s=0.0,
                         sleep=lambda _s: None)
    out = rb.generate(["a", "b"])
    assert len(out) == 2
    assert all(o.startswith(RetryingBackend.FAIL_PREFIX) for o in out)
    # downstream: sentinel rows align to all-O tags, row stays visible
    assert predict_tags("two tokens", out[0]) == ["O", "O"]


# ----------------------------------------------------- M1: OpenAI adapter
class GazetteerTransport:
    """Offline OpenAI-API-shaped transport: answers both endpoints by
    delegating to the deterministic gazetteer core, and records every
    (endpoint, payload) for assembly assertions."""

    def __init__(self, gazetteer=None):
        from promptner_spark.operators.model import GazetteerBackend
        self.gb = GazetteerBackend(gazetteer)
        self.requests = []

    def __call__(self, endpoint, payload):
        self.requests.append((endpoint, payload))
        if endpoint == "/chat/completions":
            content = payload["messages"][-1]["content"]
            answer = self.gb.generate([content])[0]
            return {"choices": [{"message": {"content": answer}}]}
        assert endpoint == "/completions"
        answer = self.gb.generate([payload["prompt"]])[0]
        return {"choices": [{"text": answer}]}


class ChatOnlyTransport(GazetteerTransport):
    """A chat model's API: only ``/chat/completions`` answers."""

    def __call__(self, endpoint, payload):
        if endpoint != "/chat/completions":
            raise ValueError(f"chat model has no {endpoint} endpoint")
        return super().__call__(endpoint, payload)


def test_single_sentence_api_uses_chat_dispatch(spark):
    """custom.get_tagging_system and get_ner_system send a chat
    model's prompt to the chat endpoint, as the fused extractor does
    (reference ``__call__`` dispatch, `models.py:47-52`): the tagger's
    mentions equal the extractor's for the same sentence."""
    from promptner_spark.custom import get_ner_system, get_tagging_system
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.operators.model import OpenAIBackend
    from promptner_spark.oracle.spans import tags_to_mentions

    def factory():
        return OpenAIBackend(model="gpt-3.5-turbo",
                             transport=ChatOnlyTransport())

    sentence = "the stream joins a vector to the filter operator"
    tags = get_tagging_system(backend_factory=factory)(sentence)
    got = {(m["begin"], m["end"], m["surface"], m["type"])
           for m in tags_to_mentions(sentence.lower().split(" "), tags)}
    sents = spark.createDataFrame([("u", 0, sentence)],
                                  "url string, sent_id int, text string")
    want = {(r["begin"], r["end"], r["surface"], r["type"])
            for r in extract_mentions(sents, backend_factory=factory,
                                      partitions=1).collect()}
    assert got == want and len(got) == 3
    entities, _, _ = get_ner_system(backend_factory=factory)(sentence)
    assert entities == ["stream", "vector", "filter"]
    # the CoT exemplar generator (annotate) dispatches the same way
    from promptner_spark.operators.annotate import generate_annotations
    transport = ChatOnlyTransport()
    labels = ["O", "B-SOURCE", "O", "O", "B-STRUCT", "O", "O", "B-OP", "O"]
    block = generate_annotations(
        sentence, sentence.split(" "), labels,
        OpenAIBackend(model="gpt-3.5-turbo", transport=transport), defn="")
    assert block.startswith("Answer: ") and "| True |" in block
    assert transport.requests and {e for e, _ in transport.requests} == {
        "/chat/completions"}


def test_openai_chat_adapter_runs_fused_pipeline_unchanged(spark, sf_dir):
    """The fused extraction stage must produce identical mentions with
    the chat adapter (C3 path: message-list assembly + chat endpoint)
    as with the in-process gazetteer backend."""
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.operators.model import OpenAIBackend, RetryingBackend
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sents = split_sentences(pages_with_extracted_text(spark, sf_dir)).limit(40)
    cols = ["url", "sent_id", "mention_id", "surface", "begin", "end", "type"]
    baseline = sorted(tuple(r) for r in extract_mentions(sents)
                      .select(*cols).collect())
    chat = sorted(tuple(r) for r in extract_mentions(
        sents,
        backend_factory=lambda: RetryingBackend(OpenAIBackend(
            model="gpt-3.5-turbo", transport=GazetteerTransport())))
        .select(*cols).collect())
    assert chat == baseline and len(chat) > 0


def test_openai_completion_adapter_runs_fused_pipeline_unchanged(spark, sf_dir):
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.operators.model import OpenAIBackend, RetryingBackend
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sents = split_sentences(pages_with_extracted_text(spark, sf_dir)).limit(40)
    cols = ["url", "sent_id", "mention_id", "surface", "begin", "end", "type"]
    baseline = sorted(tuple(r) for r in extract_mentions(sents)
                      .select(*cols).collect())
    compl = sorted(tuple(r) for r in extract_mentions(
        sents,
        backend_factory=lambda: RetryingBackend(OpenAIBackend(
            model="text-davinci-003", transport=GazetteerTransport())))
        .select(*cols).collect())
    assert compl == baseline and len(compl) > 0


def test_openai_chat_message_assembly():
    """Chat transcript layout per reference `algorithms.py:202-219` +
    `models.py:21-26`: system turn first (chatbot_init + defn + task),
    exemplars as alternating user/assistant pairs, final user turn
    carries the paragraph; request body uses role/content dicts."""
    from promptner_spark.functions.prompts import (
        CHATBOT_INIT, PromptSpec, chat_message_prefix, chat_user_turn)
    from promptner_spark.operators.model import OpenAIBackend

    spec = PromptSpec(exemplars=(
        "Paragraph: a b \nAnswer:\n1. a | True | x (T)",))
    msgs = chat_message_prefix(spec) + [chat_user_turn("the para")]
    transport = GazetteerTransport()
    be = OpenAIBackend(model="gpt-4", transport=transport)
    assert be.is_chat()
    be.generate_chat([msgs])
    (_endpoint, payload), = transport.requests
    sent = payload["messages"]
    assert sent[0]["role"] == "system"
    assert sent[0]["content"].startswith(CHATBOT_INIT)
    assert spec.defn in sent[0]["content"]
    assert [m["role"] for m in sent[1:]] == ["user", "assistant", "user"]
    assert sent[-1]["content"] == "\nParagraph: the para \nAnswer:"
    assert payload["model"] == "gpt-4"


def test_is_chat_dispatch_matches_reference():
    from promptner_spark.operators.model import (
        GazetteerBackend, HFBackend, OpenAIBackend, RetryingBackend,
        is_chat_backend)

    assert OpenAIBackend(model="gpt-4").is_chat()
    assert OpenAIBackend(model="gpt-3.5-turbo").is_chat()
    assert not OpenAIBackend(model="text-davinci-003").is_chat()
    assert not OpenAIBackend(model="davinci").is_chat()
    assert not HFBackend(lambda p: p).is_chat()
    assert not is_chat_backend(GazetteerBackend())
    # RetryingBackend forwards the predicate of its inner backend
    assert RetryingBackend(OpenAIBackend(model="gpt-4")).is_chat()
    assert not RetryingBackend(GazetteerBackend()).is_chat()


class FlakyChat:
    def __init__(self, fail_times):
        self.fail_times, self.calls = fail_times, 0

    def is_chat(self):
        return True

    def generate_chat(self, batches):
        self.calls += 1
        if self.calls <= self.fail_times:
            raise RuntimeError("rate limited")
        return [f"ok:{msgs[-1][0]}" for msgs in batches]


def test_retrying_backend_covers_chat_interface():
    """The adapter must honor RetryingBackend semantics on the chat
    path too: bounded retry, then visible sentinel rows."""
    from promptner_spark.operators.model import RetryingBackend

    sleeps = []
    rb = RetryingBackend(FlakyChat(2), retries=3, backoff_s=0.5,
                         sleep=sleeps.append)
    out = rb.generate_chat([[("a", "user")], [("b", "user")]])
    assert out == ["ok:a", "ok:b"] and sleeps == [0.5, 1.0]

    rb2 = RetryingBackend(FlakyChat(99), retries=2, backoff_s=0.0,
                          sleep=lambda _s: None)
    out2 = rb2.generate_chat([[("a", "user")]])
    assert len(out2) == 1 and out2[0].startswith(RetryingBackend.FAIL_PREFIX)


def test_hf_backend_runs_fused_pipeline(spark, sf_dir):
    """M2: the HF-generate-shaped adapter (query_fn per prompt) drives
    the same pipeline; a gazetteer-implemented query_fn reproduces the
    baseline mentions."""
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.operators.model import (
        GazetteerBackend, HFBackend, RetryingBackend)
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sents = split_sentences(pages_with_extracted_text(spark, sf_dir)).limit(30)
    cols = ["url", "sent_id", "mention_id", "surface", "begin", "end", "type"]
    baseline = sorted(tuple(r) for r in extract_mentions(sents)
                      .select(*cols).collect())

    def make_backend():
        gb = GazetteerBackend()
        return RetryingBackend(HFBackend(lambda p: gb.generate([p])[0]))

    hf = sorted(tuple(r) for r in extract_mentions(
        sents, backend_factory=make_backend).select(*cols).collect())
    assert hf == baseline and len(hf) > 0


def test_verify_dispute_through_chat_adapter(spark, sf_dir):
    """C7/C8 queries also route through the chat interface
    (single-user-turn envelope) — the fused verify stage agrees with
    the in-process backend end-to-end."""
    from promptner_spark.operators.infer import extract_mentions
    from promptner_spark.operators.model import OpenAIBackend, RetryingBackend
    from promptner_spark.operators.verify import verify_types
    from promptner_spark.sources.pages import pages_with_extracted_text
    from promptner_spark.sources.sentences import split_sentences

    sents = split_sentences(pages_with_extracted_text(spark, sf_dir)).limit(30)
    m = extract_mentions(sents, carry=("text",))
    out = verify_types(
        m, resolve_disputes=True,
        backend_factory=lambda: RetryingBackend(OpenAIBackend(
            model="gpt-4", transport=GazetteerTransport())))
    from pyspark.sql import functions as F
    assert out.where(F.col("type_final") != F.col("type")).count() == 0
    assert out.count() > 0


def test_real_backend_smoke_stub_wiring(spark, sf_dir):
    """tools/real_backend_smoke.py stub mode: an OpenAIBackend with an
    injected transport drives the UNCHANGED pipeline via
    build_pipeline(backend_factory=...) and reproduces the default
    deterministic pipeline byte-for-byte — proving the exact wiring a
    first real-cluster run will use. The same factory then drives the
    single-sentence tagger the script prints."""
    import os
    import sys
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from real_backend_smoke import (
        SMOKE_SENTENCE, make_backend_factory, tag_sentence,
    )

    from promptner_spark.custom import get_tagging_system
    from promptner_spark.plans.pipeline import build_pipeline

    factory = make_backend_factory("stub", "gpt-3.5-turbo")
    stub = build_pipeline(spark, sf_dir, backend_factory=factory)
    default = build_pipeline(spark, sf_dir)
    cols = ["url", "sent_id", "begin", "end", "surface", "type"]
    got = sorted(map(tuple, stub.mentions.select(*cols).collect()))
    want = sorted(map(tuple, default.mentions.select(*cols).collect()))
    stub.unpersist(); default.unpersist()
    assert got == want and len(got) > 0
    tags = tag_sentence(factory)
    assert tags == get_tagging_system()(SMOKE_SENTENCE)
    assert sum(t != "O" for t in tags) == 3
