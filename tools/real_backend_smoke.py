"""First-contact smoke for REAL model backends on a cluster / live API.

The sandbox can't reach a network or load HF weights, so the library's
``OpenAIBackend`` / ``HFBackend.from_pretrained`` paths are exercised
there only through injected transports. This script is the one file to
``spark-submit`` on a machine that CAN — it swaps a real backend into
the unchanged pipeline via ``build_pipeline(backend_factory=...)`` and
prints the first mention rows + triple counts, then tags one sentence
through the single-sentence API (``custom.get_tagging_system``) with
the same factory.

Usage (pick one backend):

    spark-submit tools/real_backend_smoke.py openai \
        --model gpt-4o-mini --sf-dir /data/sf0.01
    spark-submit tools/real_backend_smoke.py hf \
        --model google/flan-t5-large --sf-dir /data/sf0.01
    python tools/real_backend_smoke.py stub          # CI wiring check

``stub`` runs the identical code path with an injected echo transport
(no network) — the test in tests/test_model_backend.py drives it, so
the wiring this script relies on is proven before first cluster use.
OPENAI_API_KEY is read from the environment for the openai mode.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def make_backend_factory(mode: str, model: str, transport=None):
    """() -> Backend, built ONCE PER EXECUTOR TASK (the factory is
    shipped to workers; heavyweight state — HTTP session, HF weights —
    must be constructed inside it, never on the driver)."""
    from promptner_spark.operators.model import (
        GazetteerBackend, HFBackend, OpenAIBackend, RetryingBackend,
    )

    if mode == "openai":
        def factory():
            # key read from $OPENAI_API_KEY on the EXECUTOR (ship it
            # via spark.executorEnv.OPENAI_API_KEY on a real cluster)
            return RetryingBackend(
                OpenAIBackend(model=model, transport=transport))
    elif mode == "hf":
        def factory():
            return RetryingBackend(HFBackend.from_pretrained(model))
    elif mode == "stub":
        # The injected-transport path: OpenAIBackend with a transport
        # that answers like the deterministic gazetteer — proves the
        # factory wiring end-to-end with zero network.
        def factory():
            gaz = GazetteerBackend()

            def echo_transport(endpoint: str, payload: dict) -> dict:
                if endpoint == "/completions":
                    texts = [payload["prompt"]] if isinstance(
                        payload["prompt"], str) else payload["prompt"]
                    return {"choices": [{"text": t}
                                        for t in gaz.generate(texts)]}
                msgs = payload["messages"]
                ans = gaz.generate([msgs[-1]["content"]])[0]
                return {"choices": [{"message": {"content": ans}}]}

            return RetryingBackend(
                OpenAIBackend(model=model, transport=echo_transport))
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    return factory


SMOKE_SENTENCE = "the stream joins a vector to the filter operator"


def tag_sentence(factory) -> list[str]:
    """IOB2 tags for SMOKE_SENTENCE through ``custom.get_tagging_system``
    — the driver-side API, which must dispatch chat and completion
    models the same way the pipeline's extractor does."""
    from promptner_spark.custom import get_tagging_system

    return get_tagging_system(backend_factory=factory)(SMOKE_SENTENCE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["openai", "hf", "stub"])
    ap.add_argument("--model", default="gpt-3.5-turbo")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--limit", type=int, default=10)
    args = ap.parse_args()

    from promptner_spark.plans.pipeline import build_pipeline
    from promptner_spark.session import build_session

    spark = build_session(app_name=f"real-backend-smoke-{args.mode}")
    factory = make_backend_factory(args.mode, args.model)
    res = build_pipeline(spark, args.sf_dir, backend_factory=factory)
    print("--- first mentions")
    res.mentions.show(args.limit, truncate=60)
    print("--- triple counts")
    res.triple_counts.orderBy("subj", "pred", "obj").show(args.limit)
    res.unpersist()
    print("--- single-sentence tags")
    print(list(zip(SMOKE_SENTENCE.split(" "), tag_sentence(factory))))
    spark.stop()


if __name__ == "__main__":
    main()
