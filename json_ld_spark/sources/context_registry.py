"""Vendored-context registry: the scale-safe replacement for remote
@context fetching.

Parity: PRELOADED + Context.parse remote handling
(/root/reference/lib/json/ld/context.rb:18,306-316) and
API.loadRemoteDocument (/root/reference/lib/json/ld/api.rb:624-718).
A 1000-executor job cannot fetch remote contexts (nondeterministic,
rate-limited, a network fault per partition); instead every context
IRI a corpus uses is vendored here at ingest time, the registry is
shipped to executors inside the UDF closure (dimension-sized), and a
document naming an unregistered remote context quarantines with the
spec's own error code — ``loading remote context failed``
(ld.rb error taxonomy) — rather than failing the job or silently
misexpanding.

The registry also canonicalizes https→http lookups the way the
reference does (context.rb:297-298), via Options._dict_loader.
"""

from __future__ import annotations

from typing import Any, Optional

from json_ld_spark.sources.gazetteer import CONTEXT_URL, KG_CONTEXT

# IRI → context document, exactly what loadRemoteDocument would have
# returned. A corpus that names more contexts passes them to
# ``jsonld_ops.expand_documents(contexts=...)``, which hands them to
# registry_snapshot as ``extra``.
VENDORED_CONTEXTS: dict[str, Any] = {
    CONTEXT_URL: {"@context": KG_CONTEXT},
}


def registry_snapshot(extra: Optional[dict[str, Any]] = None) -> dict[str, Any]:
    """The vendored contexts plus ``extra``, as a fresh dict shipped
    into a UDF closure: one call's extra contexts never leak into the
    module registry, or into another call's closure."""
    snap = dict(VENDORED_CONTEXTS)
    if extra:
        snap.update(extra)
    return snap
