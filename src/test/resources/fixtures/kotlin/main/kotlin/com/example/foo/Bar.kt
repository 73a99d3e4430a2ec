package com.example.foo

class Bar {
    fun bar(): String = "bar"
}
