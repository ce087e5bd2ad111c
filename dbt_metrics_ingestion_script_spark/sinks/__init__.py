from .base import Sink, NoopSink
from .emission_log import EmissionLogSink
from .rest import RestSink

__all__ = ["Sink", "NoopSink", "EmissionLogSink", "RestSink"]
