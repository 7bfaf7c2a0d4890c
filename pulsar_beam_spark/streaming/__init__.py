from .ingest import ingest_stream, envelope_with_headers  # noqa: F401
from .windows import tumbling_counts, sliding_counts, session_counts, dedup_stream  # noqa: F401
from .poll import bounded_poll  # noqa: F401
from .delivery import WebhookSink, deliver_multiplexed_stream  # noqa: F401
from .reconciler import Reconciler  # noqa: F401
from .sse import gen_subscription_name, sse_frame  # noqa: F401
from .stateful import running_counts_with_ttl  # noqa: F401
