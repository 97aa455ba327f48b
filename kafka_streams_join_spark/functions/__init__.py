from .payload import join_payload

__all__ = ["join_payload"]
